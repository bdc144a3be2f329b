package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.corpus.CorpusGen
import graft.output.Metrics
import graft.pipeline.Pipeline
import graft.simsearch.SimSearch
import graft.textops.TextOps

/** Driver contract — see /root/repo/SURVEY.md §7 + TESTDATA.md.
  *
  * `queries` covers the operator inventory two ways:
  *  - relational-core analogs of SURVEY §2.4/§2.8 (joins, anti/semi
  *    joins, windows, conflict resolution, priority cascades, confusion
  *    metrics) over the TPC-H-ish driver tables, each with a DuckDB
  *    oracle;
  *  - the training-data-pipeline operators (dedup exact/MinHash-LSH/
  *    SimHash, Jaccard verify, quality scoring, language ID, token
  *    stats, fingerprinting, cosine/LSH similarity search) over
  *    `documents` / `embeddings`.
  * KG-pipeline-specific operators (tokenizer, NER, rule NFA, coref) are
  * exercised by `sbt test` golden fixtures (SURVEY §5) and surface here
  * through `kg_*` rows-only queries.
  *
  * Cross-engine determinism rules used below (so value-hash compare
  * passes): integral doubles only for raw sums; money sums through
  * DECIMAL(18,2) then DOUBLE; counts cast to BIGINT; round(x, n) on any
  * division; ORDER-dependent ops get explicit total orders.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Flagship: full KG pipeline on the tiny synthetic corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val sf = 0.0002
    Pipeline.run(spark, CorpusGen.rawDocs(spark, sf), CorpusGen.gazette(sf))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational core (SURVEY §2.4 analogs) --------------------------
    "q1_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("sum_price"),
          count(lit(1)).as("n"))
    }),
    "q2_join_agg" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),
    "q3_antijoin" -> ((s, d) => {
      // Q9 "lacking" filter analog: left-anti join
      t(s, d, "customer")
        .join(t(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
    }),
    "q4_semijoin" -> ((s, d) => {
      t(s, d, "part")
        .join(t(s, d, "lineitem"),
          col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"))
    }),
    "q5_label_resolve" -> ((s, d) => {
      // Q5 conflict resolution analog: newest wins per key with a
      // deterministic (ts, event_id) total order — max_by over structs
      t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("b"))
        .select(col("user_id"), col("b.event_id").as("latest_event"),
          col("b.event_type").as("latest_type"),
          col("b.value").as("latest_value"))
    }),
    "q6_window_nav" -> ((s, d) => {
      // Q8 labeled-neighbor navigation: lag/lead over a total order
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(col("event_id"), col("user_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"))
    }),
    "q7_priority_pick" -> ((s, d) => {
      // Q7 priority-cascade analog: first by (priority, id) per group
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(struct(col("o_orderpriority"), col("o_orderkey"))).as("b"))
        .select(col("o_custkey"), col("b.o_orderkey").as("best_order"),
          col("b.o_orderpriority").as("priority"))
    }),
    "q8_topk_uncertain" -> ((s, d) => {
      // C6 uncertainty sampling: smallest |margin| first, stable order
      t(s, d, "events")
        .select(col("event_id"), abs(col("value")).as("margin"))
        .orderBy(col("margin").asc, col("event_id").asc)
        .limit(100)
    }),
    "q9_kindpair_filter" -> ((s, d) => {
      // Q1 kind-pair segment filter analog: two semi joins
      t(s, d, "nation")
        .join(t(s, d, "customer"),
          col("n_nationkey") === col("c_nationkey"), "left_semi")
        .join(t(s, d, "supplier"),
          col("n_nationkey") === col("s_nationkey"), "left_semi")
        .select(col("n_nationkey"), col("n_name"))
    }),
    "q11_next_segment" -> ((s, d) => {
      // Q7 REAL cascade (models.py:568-608) over KG-shaped tables derived
      // deterministically from the driver tables: documents -> segments,
      // events -> evidences + a label table (same derivation in the
      // oracle SQL). Output = the full prioritized labeling queue.
      val (segments, evidences, labels) = kgShapedTables(s, d)
      graft.labels.NextSegment.queue(segments, evidences, labels, "judge_1")
    }),
    "q12_neighbor_nav" -> ((s, d) => {
      // Q8 REAL labeled-neighbor navigation (models.py:511-566): the full
      // id-ordered nav table over labeled segments with the reference's
      // own-id edge conventions
      val (segments, evidences, labels) = kgShapedTables(s, d)
      graft.labels.NeighborNav.nav(segments, evidences, labels)
    }),
    "q13_asof_join" -> ((s, d) => {
      // as-of join (union-window form, relational/AsOfJoin.scala): each
      // click joined to the user's latest view at-or-before it —
      // oracled against DuckDB's native ASOF LEFT JOIN
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      graft.relational.AsOfJoin.asOf(clicks, views, "user_id",
        "ts", "ts", "click_id", "view_id")
    }),
    "q14_range_join" -> ((s, d) => {
      // keyed range join: views of the same user within the hour before
      // each click (inclusive of the click instant). The equi-key keeps
      // the join a hash join with a range FILTER — one shuffle on
      // user_id, never a cartesian range-explode.
      val ev = t(s, d, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("cuid"), col("ts").as("cts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id").as("vuid"), col("ts").as("vts"))
      // range predicate in the ON clause: zero-match clicks survive the
      // left join with null vts and count to 0
      clicks.join(views,
        col("cuid") === col("vuid") && col("vts") <= col("cts") &&
          col("vts") >= col("cts") - expr("INTERVAL 1 HOUR"), "left")
        .groupBy(col("click_id"), col("cuid").as("user_id"))
        .agg(count(col("vts")).as("n_views_1h"))
    }),
    "q10_confusion" -> ((s, d) => {
      // M2 metrics: one aggregation pass
      val df = t(s, d, "events").select(
        (col("value") > 50).as("predicted_label"),
        (col("event_type") === "click").as("real_label"))
      Metrics.resultDict(s, df)
    }),
    // --- training-data ops: documents ----------------------------------
    "d1_dedup_exact" -> ((s, d) => TextOps.dedupExact(t(s, d, "documents"))),
    "d2_token_stats" -> ((s, d) => TextOps.tokenStats(t(s, d, "documents"))),
    "d3_quality" -> ((s, d) => TextOps.qualityScore(t(s, d, "documents"))),
    "d4_lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"))),
    "d5_minhash" -> ((s, d) => TextOps.minhash(t(s, d, "documents"))),
    "d6_lsh_pairs" -> ((s, d) =>
      TextOps.lshCandidatePairs(t(s, d, "documents"))),
    "d7_jaccard_verify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.jaccardOfPairs(docs, TextOps.lshCandidatePairs(docs))
    }),
    "d12_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.ngramJaccardOfPairs(docs, TextOps.lshCandidatePairs(docs))
    }),
    "d14_jaccard_both" -> ((s, d) => {
      // combined verify: unigram + shingle Jaccard in ONE pair join —
      // the fused form of d7+d12 for pipelines that want both measures
      val docs = t(s, d, "documents")
      TextOps.jaccardBothOfPairs(docs, TextOps.lshCandidatePairs(docs))
    }),
    "d8_simhash" -> ((s, d) => TextOps.simhash(t(s, d, "documents"))),
    "d10_bpe_tokens" -> ((s, d) => {
      // BPE-ish regex pre-tokenization count: letter runs / digit runs /
      // single non-alnum marks (same RE2-safe pattern as the oracle)
      val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
      t(s, d, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .cast("long").as("n_bpe_tokens"))
    }),
    "d9_fingerprint" -> ((s, d) => TextOps.fingerprint(t(s, d, "documents"))),
    "d13_tfidf" -> ((s, d) => TextOps.tfidfTopK(t(s, d, "documents"))),
    "d15_repetition" -> ((s, d) =>
      TextOps.repetitionScores(t(s, d, "documents"))),
    // --- similarity search: embeddings ---------------------------------
    "e1_cosine_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      SimSearch.cosineTopK(e.where(col("id") < 20), e, 5)
    }),
    "e2_lsh_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      SimSearch.lshTopK(e.where(col("id") < 20), e, 5)
    }),
    "e5_ivf_topk" -> ((s, d) => {
      // IVF scale path: 8 seed centroids (vec_id < 8 — deterministic
      // and mirrored verbatim in the oracle; a production run feeds
      // k-means-trained centroids, the operator is agnostic), 3 probed
      // cells per query, exact-cosine re-rank
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      val cents = e.where(col("id") < 8)
        .select(col("id").as("centroid_id"), col("embedding"))
      SimSearch.ivfTopK(e.where(col("id") < 20), e, cents,
        nprobe = 3, k = 5)
    }),
    "e3_embedding_neardup" -> ((s, d) => {
      // exact all-pairs near-dup baseline at the SAME threshold as its
      // scale twin e4: the driver embeddings are near-orthogonal (zero
      // pairs at 0.9), so 0.35 is where the table has genuine mass —
      // the oracle then compares 271 value rows instead of two empty
      // sets (round-5 defect: a trivially-green 0-row oracle). The
      // 0.9-threshold behavior stays covered in SimSearchSpec on
      // clustered synthetic vectors.
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      SimSearch.cosineNearDupPairs(e, 0.35)
    }),
    "e4_lsh_neardup" -> ((s, d) => {
      // the scale-path near-dup (OR-banded LSH candidates + exact-cosine
      // verify) at e3's threshold, so e3 (exact) vs e4 (banded) also
      // documents LSH recall on the driver tables; the
      // >= 0.9-recall-at-0.9-cosine evidence lives in SimSearchSpec on
      // clustered synthetic vectors.
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("id"), col("embedding"))
      SimSearch.lshNearDupPairs(e, 0.35)
    }),
    "d11_simhash_neardup" -> ((s, d) =>
      TextOps.simhashNearDupPairs(t(s, d, "documents"), maxHamming = 6)),
    // --- KG pipeline ----------------------------------------------------
    "kg_triples" -> ((s, _) => {
      // end-to-end extract->link->canonicalize, oracled as SET equality
      // against the generator's golden triples (dumped by Verify): a
      // hash-exact P/R = 1.0 gate run by the driver itself
      val sf = 0.0002
      Pipeline.run(s, CorpusGen.rawDocs(s, sf), CorpusGen.gazette(sf))
        .select(col("subj"), col("pred"), col("obj")).distinct()
    }),
    "kg_gazette_mentions" -> ((s, d) => {
      // single-token literal-NER analog with a SQL oracle: token-level
      // gazette hits with 1-based positions
      val gaz = Seq("spark", "join", "window", "merge")
      t(s, d, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          posexplode(split(col("text"), " ")))
        .where(col("col").isin(gaz: _*))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("mention"))
    }))

  /** KG-shaped (segments, evidences, labels) tables derived
    * deterministically from the driver parquet — shared by the q11/q12
    * labeling-workflow queries; [[kgShapedCtes]] is the same derivation
    * in DuckDB SQL. */
  private def kgShapedTables(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ev = t(s, d, "events")
    val segments = t(s, d, "documents")
      .select(col("doc_id").cast("long").as("segment_id"))
    val evidences = ev.select(
      col("event_id").cast("long").as("evidence_id"),
      pmod(col("event_id"), lit(500)).cast("long").as("segment_id"))
    val m7 = pmod(col("event_id"), lit(7))
    val labels = ev.where(pmod(col("event_id"), lit(3)) === 0).select(
      col("event_id").cast("long").as("evidence_id"),
      when(m7 === 1, "SK").when(m7 === 2, "YE").when(m7 === 3, "NO")
        .when(m7 === 4, "NS").when(m7 === 6, "SK")
        .otherwise(lit(null)).as("label"),
      concat(lit("judge_"), pmod(col("event_id"), lit(4))).as("judge"),
      (pmod(col("event_id"), lit(5)) === 0).as("by_machine"))
    (segments, evidences, labels)
  }

  private val kgShapedCtes: String =
    """WITH segments AS (SELECT CAST(doc_id AS BIGINT) AS segment_id FROM documents),
      |evidences AS (SELECT CAST(event_id AS BIGINT) AS evidence_id,
      |  CAST(event_id % 500 AS BIGINT) AS segment_id FROM events),
      |labels AS (SELECT CAST(event_id AS BIGINT) AS evidence_id,
      |  CASE event_id % 7 WHEN 1 THEN 'SK' WHEN 2 THEN 'YE' WHEN 3 THEN 'NO'
      |    WHEN 4 THEN 'NS' WHEN 6 THEN 'SK' ELSE NULL END AS label,
      |  'judge_' || CAST(event_id % 4 AS VARCHAR) AS judge,
      |  (event_id % 5 = 0) AS by_machine
      |  FROM events WHERE event_id % 3 = 0)""".stripMargin

  /** DuckDB CTEs mirroring [[TextOps.lshCandidatePairs]] 1:1 — 16 minhash
    * slots, 4 bands x 4 rows, band key = md5 of the band's slots joined
    * with '|' (same construction as Spark's md5(concat_ws("|", ...))). */
  private def lshPairsCtes: String = {
    val (bands, rows) = (4, 4)
    val slots = (0 until bands * rows)
      .map(i => s"    MIN(md5('$i:' || t)) AS mh_$i").mkString(",\n")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until rows).map(r => s"mh_${b * rows + r}")
        .mkString(" || '|' || ")
      s"  SELECT doc_id, $b AS band_idx, md5($key) AS bkey FROM mh"
    }.mkString("\n  UNION ALL\n")
    s"""WITH mh AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |$slots
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |        FROM documents)
       |  GROUP BY 1),
       |bands AS (
       |$bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band_idx = y.band_idx AND x.bkey = y.bkey
       |   AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** DuckDB CTEs mirroring [[SimSearch.bandBuckets]] 1:1 — the same
    * integer-arithmetic hyperplanes ((i*2654435761 + p*40503 +
    * 2166136261) % 1000003 mapped to [-1,1]), 16 bands x 8 sign bits.
    * Yields `e` (id, emb) and `bkt` (id, band_idx, bucket).
    *
    * The projection is a DETERMINISTIC ordered reduction —
    * `list_dot_product` over the ordered embedding and a generated plane
    * list — never `SUM` over unnested rows, whose float accumulation
    * order under parallel aggregation is unspecified and could flip a
    * sign bit of a projection near zero (rounding protects cosine
    * values, not sign bits). Matches Spark's left-to-right double
    * accumulation in `HyperplaneBuckets`. A NULL embedding gets no
    * bucket, as in the kernel: `e` drops it, so no later step reads it
    * (DuckDB 1.0 raises in `list_dot_product` on a table that holds a
    * NULL list, even on rows a filter or join has already dropped). */
  private def lshBandCtes(bands: Int = 16, ppb: Int = 8): String =
    s"""WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
       |             CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
       |           WHERE embedding IS NOT NULL),
       |pl AS (SELECT CAST(unnest(generate_series(0, ${bands * ppb - 1})) AS BIGINT) AS p),
       |proj AS (SELECT e.id, pl.p,
       |    list_dot_product(e.emb,
       |      list_transform(generate_series(0, len(e.emb) - 1),
       |        i -> ((CAST((CAST(i AS BIGINT) * 2654435761 + pl.p * 40503 + 2166136261) % 1000003 AS DOUBLE)
       |          / 500001.5) - 1.0))) AS proj
       |  FROM e CROSS JOIN pl),
       |bkt AS (SELECT id, CAST(p // $ppb AS INT) AS band_idx,
       |    CAST(SUM(CASE WHEN proj >= 0
       |      THEN (CAST(1 AS BIGINT) << CAST(p % $ppb AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY 1, 2)""".stripMargin

  /** DuckDB CTEs mirroring [[TextOps.simhash]] 1:1 — per distinct token,
    * 64 bits from the first 16 hex nibbles of md5(token) (bit i = bit
    * i%4 of nibble i/4), per-bit +-1 sums, sign -> signature bit;
    * unsigned 2^i accumulation in HUGEINT folded back to the signed
    * BIGINT Spark produces. Yields `sig` (doc_id, simhash). */
  private def simhashCtes: String = {
    val nibbles = (0 until 16)
      .map(j => s"    strpos('0123456789abcdef', substr(hx, ${j + 1}, 1)) - 1 AS nb$j")
      .mkString(",\n")
    val bitSums = (0 until 64).map { i =>
      s"    CAST(SUM(CASE WHEN ((nb${i / 4} >> ${i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$i"
    }.mkString(",\n")
    val sigSum = (0 until 64).map { i =>
      s"CASE WHEN b$i > 0 THEN CAST(${BigInt(1) << i} AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString("\n      + ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(t) AS hx
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
       |        FROM documents)),
       |nib AS (
       |  SELECT doc_id,
       |$nibbles
       |  FROM tok),
       |bits AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |$bitSums
       |  FROM nib GROUP BY 1),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(u - CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
       |      THEN CAST(18446744073709551616 AS HUGEINT)
       |      ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash
       |  FROM (SELECT doc_id,
       |      $sigSum AS u
       |    FROM bits))""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "e2_lsh_topk" ->
      s"""${lshBandCtes()},
        |cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
        |  FROM bkt q JOIN bkt c
        |    ON q.band_idx = c.band_idx AND q.bucket = c.bucket
        |  WHERE q.id < 20 AND q.id <> c.id),
        |s AS (SELECT query_id, neighbor_id,
        |    ROUND(list_dot_product(a.emb, b.emb)
        |      / (sqrt(list_dot_product(a.emb, a.emb))
        |       * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
        |  FROM cand JOIN e a ON cand.query_id = a.id
        |            JOIN e b ON cand.neighbor_id = b.id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin,
    "e4_lsh_neardup" ->
      s"""${lshBandCtes()},
        |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
        |  FROM bkt x JOIN bkt y
        |    ON x.band_idx = y.band_idx AND x.bucket = y.bucket
        |   AND x.id < y.id)
        |SELECT a, b, cos FROM (
        |  SELECT cand.a, cand.b,
        |    ROUND(list_dot_product(ea.emb, eb.emb)
        |      / (sqrt(list_dot_product(ea.emb, ea.emb))
        |       * sqrt(list_dot_product(eb.emb, eb.emb))), 6) AS cos
        |  FROM cand JOIN e ea ON cand.a = ea.id JOIN e eb ON cand.b = eb.id)
        |WHERE cos >= 0.35""".stripMargin,
    // golden triples parquet dumped by Verify to the sibling dir
    // <outDir>_golden; __GRAFT_OUTDIR__ is substituted with the absolute
    // outDir at dump time (Verify.main) so the driver's DuckDB run reads
    // the right file
    "kg_triples" ->
      """SELECT subj, pred, obj
        |FROM read_parquet('__GRAFT_OUTDIR___golden/kg_triples/*.parquet')""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q2_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    "q3_antijoin" ->
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,
    "q4_semijoin" ->
      """SELECT p_partkey FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)""".stripMargin,
    "q5_label_resolve" ->
      """SELECT user_id, event_id AS latest_event, event_type AS latest_type,
        |  value AS latest_value
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin,
    "q6_window_nav" ->
      """SELECT event_id, user_id,
        |  LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
        |  LEAD(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
        |FROM events""".stripMargin,
    "q7_priority_pick" ->
      """SELECT o_custkey, o_orderkey AS best_order, o_orderpriority AS priority
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderpriority, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1""".stripMargin,
    "q8_topk_uncertain" ->
      """SELECT event_id, ABS(value) AS margin FROM events
        |ORDER BY margin ASC, event_id ASC LIMIT 100""".stripMargin,
    "q9_kindpair_filter" ->
      """SELECT n_nationkey, n_name FROM nation n
        |WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
        |  AND EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)""".stripMargin,
    "q14_range_join" ->
      """WITH clicks AS (SELECT event_id AS click_id, user_id AS cuid, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |views AS (SELECT user_id AS vuid, ts AS vts
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.cuid AS user_id,
        |  COUNT(v.vts) AS n_views_1h
        |FROM clicks c LEFT JOIN views v
        |  ON c.cuid = v.vuid AND v.vts <= c.cts
        | AND v.vts >= c.cts - INTERVAL 1 HOUR
        |GROUP BY 1, 2""".stripMargin,
    "q13_asof_join" ->
      """WITH clicks AS (SELECT event_id AS click_id, user_id, ts
        |  FROM events WHERE event_type = 'click'),
        |views AS (SELECT event_id AS view_id, user_id, ts
        |  FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id, v.view_id AS prev_view_id
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin,
    "q10_confusion" ->
      """WITH b AS (SELECT (value > 50) AS p, (event_type = 'click') AS r FROM events),
        |c AS (SELECT
        |  CAST(SUM(CASE WHEN p AND r THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN p AND NOT r THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN NOT p AND NOT r THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |  CAST(SUM(CASE WHEN NOT p AND r THEN 1 ELSE 0 END) AS BIGINT) AS fn FROM b)
        |SELECT tp, fp, tn, fn,
        |  (tp + tn) / CAST(tp + tn + fp + fn AS DOUBLE) AS accuracy,
        |  CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END AS precision,
        |  CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END AS recall,
        |  CASE WHEN (CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END
        |           + CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END) = 0 THEN 0.0
        |       ELSE 2 * (CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END)
        |              * (CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END)
        |              / ((CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp / CAST(tp + fp AS DOUBLE) END)
        |               + (CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp / CAST(tp + fn AS DOUBLE) END)) END AS f1
        |FROM c""".stripMargin,
    "q11_next_segment" ->
      s"""$kgShapedCtes,
        |human AS (SELECT * FROM labels WHERE NOT by_machine),
        |b AS (
        |  SELECT e.segment_id, 1 AS priority FROM human h
        |    JOIN evidences e USING (evidence_id)
        |    WHERE h.label IS NULL AND h.judge = 'judge_1'
        |  UNION ALL
        |  SELECT e.segment_id, 2 FROM evidences e
        |    WHERE NOT EXISTS (SELECT 1 FROM human h WHERE h.evidence_id = e.evidence_id)
        |  UNION ALL
        |  SELECT s.segment_id, 3 FROM segments s
        |    WHERE NOT EXISTS (SELECT 1 FROM evidences e JOIN labels l USING (evidence_id)
        |                      WHERE e.segment_id = s.segment_id)
        |  UNION ALL
        |  SELECT e.segment_id, 4 FROM evidences e
        |    WHERE NOT EXISTS (SELECT 1 FROM labels l WHERE l.evidence_id = e.evidence_id
        |                      AND l.label IN ('YE','NO','NS'))
        |  UNION ALL
        |  SELECT e.segment_id, 5 FROM human h JOIN evidences e USING (evidence_id)
        |    WHERE h.label IS NULL)
        |SELECT segment_id, CAST(MIN(priority) AS INT) AS priority
        |FROM b GROUP BY 1""".stripMargin,
    "q12_neighbor_nav" ->
      s"""$kgShapedCtes,
        |judged AS (SELECT * FROM labels
        |  WHERE judge IS NOT NULL AND label IS NOT NULL),
        |ls AS (SELECT DISTINCT e.segment_id
        |  FROM evidences e JOIN judged j USING (evidence_id)
        |  WHERE e.segment_id IN (SELECT segment_id FROM segments))
        |SELECT segment_id,
        |  COALESCE(LAG(segment_id) OVER (ORDER BY segment_id), segment_id) AS prev_id,
        |  COALESCE(LEAD(segment_id) OVER (ORDER BY segment_id), segment_id) AS next_id
        |FROM ls""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS h, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
        |  COUNT(*) AS dups
        |FROM documents GROUP BY 1""".stripMargin,
    "d2_token_stats" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,
    "d3_quality" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) AS BIGINT) AS n_stopwords,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS distinct_ratio,
        |  ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS avg_token_len
        |FROM documents""".stripMargin,
    "d10_bpe_tokens" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "d4_lang_id" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, CAST(len(list_filter(tk, x -> x IN ('der','die','das','und','ist','nicht','ein'))) AS BIGINT) AS score FROM toks
        |  UNION ALL
        |  SELECT doc_id, 'en', CAST(len(list_filter(tk, x -> x IN ('the','and','is','of','to','not','a'))) AS BIGINT) FROM toks
        |  UNION ALL
        |  SELECT doc_id, 'es', CAST(len(list_filter(tk, x -> x IN ('el','la','los','y','es','no','un'))) AS BIGINT) FROM toks
        |  UNION ALL
        |  SELECT doc_id, 'fr', CAST(len(list_filter(tk, x -> x IN ('le','la','les','et','est','pas','un'))) AS BIGINT) FROM toks
        |  UNION ALL
        |  SELECT doc_id, 'zh', CAST(len(list_filter(tk, x -> x IN ('de5','shi4','bu4','le5','zai4','he2','you3'))) AS BIGINT) FROM toks)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang AS pred_lang, score
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, lang DESC) AS rn FROM s)
        |WHERE rn = 1""".stripMargin,
    "d8_simhash" ->
      s"""$simhashCtes
        |SELECT doc_id, simhash FROM sig""".stripMargin,
    "d11_simhash_neardup" ->
      s"""$simhashCtes,
        |bands AS (
        |  SELECT doc_id, simhash, 0 AS band_idx, (simhash >> 0) & 65535 AS band FROM sig
        |  UNION ALL
        |  SELECT doc_id, simhash, 1, (simhash >> 16) & 65535 FROM sig
        |  UNION ALL
        |  SELECT doc_id, simhash, 2, (simhash >> 32) & 65535 FROM sig
        |  UNION ALL
        |  SELECT doc_id, simhash, 3, (simhash >> 48) & 65535 FROM sig)
        |SELECT a, b, hamming FROM (
        |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
        |    CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        |  FROM bands x JOIN bands y
        |    ON x.band_idx = y.band_idx AND x.band = y.band
        |   AND x.doc_id < y.doc_id)
        |WHERE hamming <= 6""".stripMargin,
    "d9_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  list_min(list_transform(
        |    generate_series(0, greatest(len(tk) - 3, 0)),
        |    i -> md5(array_to_string(tk[i+1:i+3], ' ')))) AS fingerprint
        |FROM t""".stripMargin,
    "d13_tfidf" ->
      """WITH tok AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,
    "d15_repetition" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        |    string_split(text, chr(10)) AS lines,
        |    string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, length(text) AS n_chars,
        |    len(lines) AS n_lines,
        |    len(list_distinct(lines)) AS n_distinct_lines,
        |    COALESCE(list_sum(list_transform(lines,
        |      x -> length(x))), 0) AS line_chars,
        |    COALESCE(list_sum(list_transform(list_distinct(lines),
        |      x -> length(x))), 0) AS distinct_line_chars,
        |    CASE WHEN len(toks) >= 2 THEN
        |      list_transform(range(len(toks) - 1),
        |        i -> toks[i+1] || ' ' || toks[i+2])
        |    ELSE CAST([] AS VARCHAR[]) END AS bigrams
        |  FROM base)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  ROUND((n_lines - n_distinct_lines) / CAST(n_lines AS DOUBLE), 4)
        |    AS dup_line_frac,
        |  ROUND(CASE WHEN line_chars > 0 THEN
        |      (line_chars - distinct_line_chars) / CAST(line_chars AS DOUBLE)
        |    ELSE 0.0 END, 4) AS dup_line_char_frac,
        |  ROUND(CASE WHEN len(bigrams) > 0 THEN
        |      list_max(list_transform(list_distinct(bigrams),
        |        g -> len(list_filter(bigrams, b -> b = g)) * length(g)))
        |        / CAST(n_chars AS DOUBLE)
        |    ELSE 0.0 END, 4) AS top2gram_char_frac
        |FROM c""".stripMargin,
    "d5_minhash" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  MIN(md5('0:' || t)) AS mh_0, MIN(md5('1:' || t)) AS mh_1,
        |  MIN(md5('2:' || t)) AS mh_2, MIN(md5('3:' || t)) AS mh_3
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        |      FROM documents)
        |GROUP BY 1""".stripMargin,
    "d6_lsh_pairs" ->
      s"""$lshPairsCtes
        |SELECT a, b FROM pairs""".stripMargin,
    "d7_jaccard_verify" ->
      s"""$lshPairsCtes,
        |dt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         list_distinct(string_split(text, ' ')) AS toks FROM documents)
        |SELECT p.a, p.b,
        |  ROUND(CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(da.toks, db.toks))), 4) AS jaccard
        |FROM pairs p JOIN dt da ON p.a = da.doc_id JOIN dt db ON p.b = db.doc_id""".stripMargin,
    "d12_ngram_jaccard" ->
      s"""$lshPairsCtes,
        |dt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  list_distinct(list_transform(
        |    generate_series(0, greatest(len(string_split(text, ' ')) - 3, 0)),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS sh
        |  FROM documents)
        |SELECT p.a, p.b,
        |  ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS ngram_jaccard
        |FROM pairs p JOIN dt da ON p.a = da.doc_id JOIN dt db ON p.b = db.doc_id""".stripMargin,
    "d14_jaccard_both" ->
      s"""$lshPairsCtes,
        |dt AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  list_distinct(string_split(text, ' ')) AS toks,
        |  list_distinct(list_transform(
        |    generate_series(0, greatest(len(string_split(text, ' ')) - 3, 0)),
        |    i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS sh
        |  FROM documents)
        |SELECT p.a, p.b,
        |  ROUND(CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
        |    / len(list_distinct(list_concat(da.toks, db.toks))), 4) AS jaccard,
        |  ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(da.sh, db.sh))), 4) AS ngram_jaccard
        |FROM pairs p JOIN dt da ON p.a = da.doc_id JOIN dt db ON p.b = db.doc_id""".stripMargin,
    "e5_ivf_topk" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
        |             CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT id AS cid, emb AS cemb FROM e WHERE id < 8),
        |cc AS (SELECT e.id, cent.cid,
        |    ROUND(list_dot_product(e.emb, cent.cemb)
        |      / (sqrt(list_dot_product(e.emb, e.emb))
        |       * sqrt(list_dot_product(cent.cemb, cent.cemb))), 6) AS ccos
        |  FROM e CROSS JOIN cent),
        |assign AS (SELECT id AS neighbor_id, cell FROM (
        |    SELECT id, cid AS cell, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY ccos DESC, cid ASC) AS rn FROM cc) WHERE rn = 1),
        |probes AS (SELECT id AS query_id, cell FROM (
        |    SELECT id, cid AS cell, ROW_NUMBER() OVER (PARTITION BY id
        |      ORDER BY ccos DESC, cid ASC) AS rn FROM cc WHERE id < 20)
        |  WHERE rn <= 3),
        |cand AS (SELECT query_id, neighbor_id
        |  FROM probes JOIN assign USING (cell)
        |  WHERE query_id <> neighbor_id),
        |s AS (SELECT query_id, neighbor_id,
        |    ROUND(list_dot_product(q.emb, n.emb)
        |      / (sqrt(list_dot_product(q.emb, q.emb))
        |       * sqrt(list_dot_product(n.emb, n.emb))), 6) AS cos
        |  FROM cand JOIN e q ON cand.query_id = q.id
        |            JOIN e n ON cand.neighbor_id = n.id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin,
    "e1_cosine_topk" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
        |             CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |s AS (SELECT q.id AS query_id, c.id AS neighbor_id,
        |        ROUND(list_dot_product(q.emb, c.emb)
        |          / (sqrt(list_dot_product(q.emb, q.emb))
        |           * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos
        |      FROM e q, e c WHERE q.id < 20 AND q.id <> c.id)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank FROM s)
        |WHERE rank <= 5""".stripMargin,
    "e3_embedding_neardup" ->
      """WITH e AS (SELECT CAST(vec_id AS BIGINT) AS id,
        |             CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |SELECT a, b, cos FROM (
        |  SELECT a.id AS a, b.id AS b,
        |    ROUND(list_dot_product(a.emb, b.emb)
        |      / (sqrt(list_dot_product(a.emb, a.emb))
        |       * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
        |  FROM e a, e b WHERE a.id < b.id)
        |WHERE cos >= 0.35""".stripMargin,
    "kg_gazette_mentions" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(i AS BIGINT) AS pos, t AS mention
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
        |        generate_subscripts(string_split(text, ' '), 1) AS i
        |      FROM documents)
        |WHERE t IN ('spark', 'join', 'window', 'merge')""".stripMargin)
}

package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data-pipeline text operators over a `documents`
  * table (doc_id, text, ...). All pure Catalyst expressions — codegen'd,
  * shuffle only where an aggregation/join is semantically required, and
  * every aggregate is algebraic (min/sum/count) so map-side combine
  * handles skew.
  *
  * Deduplication design notes (100 TB scale):
  *  - exact dedup: hash-groupBy on a text digest — one shuffle of
  *    (digest, doc_id) pairs only, never the text itself.
  *  - MinHash: per-doc signature computed map-side from the token set
  *    (k independent hash slots via salted digests), then LSH banding:
  *    one self-join of the band-key table per band, each pair kept only
  *    at its first matching band, so no dedup shuffle follows
  *    ([[firstMatchingBandPairs]], shared with SimHash). Candidate pairs
  *    are verified with exact set Jaccard ([[setJaccardOfPairs]]). Band
  *    keys are tiny strings, so the join sides are O(docs * bands), not
  *    O(docs^2).
  *  - dimension-side joins carry NO broadcast hint: AQE broadcasts a
  *    side it measures under `spark.sql.adaptive.autoBroadcastJoinThreshold`
  *    at runtime and falls back to a shuffle join otherwise, which is
  *    the behavior a 100 TB corpus needs (an explicit broadcast() hint
  *    is mandatory: AQE will NOT degrade it, so a corpus-sized
  *    "dimension" OOMs the driver).
  */
object TextOps {

  private def tokens(text: Column): Column = split(text, " ")

  /** Scale-adaptive scan parallelism for compute-heavy narrow
    * operators: when the input's plan yields fewer partitions than the
    * cluster has cores (tiny corpus, single-row-group file), spread it
    * with one round-robin repartition so per-row compute uses every
    * core; when the scan already carries >= cores partitions — any
    * at-scale input — this is a NO-OP and nothing is shuffled. The
    * alternative (a constant repartition) would re-shuffle the whole
    * corpus at scale; the alternative constant (nothing) serializes
    * per-doc work onto one task whenever an input collapses to one
    * split, which is what a 128 MB-splittable small file does. */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact duplicate groups: digest -> surviving doc + duplicate count.
    * md5 keeps the oracle cross-engine (same hex in DuckDB). */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).cast("long").as("keep_id"),
        count(lit(1)).as("dups"))

  /** Whitespace token count + char stats (quality-scoring inputs). */
  def tokenStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").cast("long").as("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Quality scoring: length ratios, stopword ratio, distinct-token
    * ratio. Stopword list is tiny and inlined (broadcast-free: literal
    * array in the plan). */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopArr = array(stopwords.map(lit): _*)
    spread(documents).select(
      col("doc_id").cast("long").as("doc_id"),
      nTok.cast("long").as("n_tokens"),
      size(filter(toks, t => array_contains(stopArr, t)))
        .cast("long").as("n_stopwords"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      round(size(array_distinct(toks)).cast("double") /
        nTok.cast("double"), 4).as("distinct_ratio"),
      round(length(regexp_replace(col("text"), " ", "")).cast("double") /
        nTok.cast("double"), 4).as("avg_token_len"))
  }

  /** Language ID by stopword-profile voting: score per language = count
    * of that language's marker words; argmax with deterministic
    * (score desc, lang asc) tie-break. N-gram-free heuristic that is
    * exactly expressible in SQL for the oracle. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "and", "is", "of", "to", "not", "a"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "un"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "zai4", "he2", "you3"))

  def langId(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scored = langMarkers.map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      struct(
        size(filter(toks, t => array_contains(arr, t))).cast("long").as("score"),
        lit(lang).as("lang"))
    }
    // argmax with deterministic tie-break: order (score, lang) DESC,
    // take the head -> ties go to the lexicographically largest lang
    // (the oracle SQL uses the same ORDER BY score DESC, lang DESC)
    val arr = sort_array(array(scored: _*), asc = false)
    spread(documents).select(
      col("doc_id").cast("long").as("doc_id"),
      arr.getItem(0).getField("lang").as("pred_lang"),
      arr.getItem(0).getField("score").as("score"))
  }

  /** MinHash signature: k slots, slot i = min over the doc's distinct
    * tokens of md5(i || ":" || token). Cross-engine deterministic (string
    * min over hex digests). Computed as a pure projection —
    * array_min over a transformed token array, NO explode/groupBy — so
    * signatures are a narrow map over the scan: zero shuffle at any
    * scale. */
  def minhash(documents: DataFrame, k: Int = 4): DataFrame = {
    // fused custom Expression: one pass over the token array computes
    // all k salted-md5 minima (vs k transform+array_min walks with
    // per-token concat/hex allocations) — value-identical to the
    // composed form and the DuckDB oracle (TextOpsSpec proves it)
    val withSlots = documents.select(
      col("doc_id").cast("long").as("doc_id"),
      graft.functions.MinHashSlots.slots(
        array_distinct(tokens(col("text"))), k).as("_mh"))
    val slots = (0 until k).map(i => col("_mh").getItem(i).as(s"mh_$i"))
    withSlots.select(col("doc_id") +: slots: _*)
  }

  /** LSH candidate pairs with real b-bands x r-rows banding: k = b*r
    * minhash slots, band i's key = md5 of its r consecutive slots. Two
    * docs become a candidate pair iff they agree on ALL r slots of some
    * band — P(candidate) = 1-(1-J^r)^b, an S-curve around
    * J ~ (1/b)^(1/r) (~0.71 for 4x4) instead of the near-all-pairs
    * 1-(1-J)^k that width-1 bands degrade to. At 100 TB this is the
    * difference between O(n * near_dups) and O(n^2): band keys are tiny
    * strings, one self-join per band ([[firstMatchingBandPairs]]).
    *
    * Default 4 bands x 4 rows (k=16) targets the 0.7-Jaccard near-dup
    * regime; the construction is mirrored 1:1 in the DuckDB oracle. */
  def lshCandidatePairs(documents: DataFrame, bands: Int = 4,
      rows: Int = 4): DataFrame = {
    val k = bands * rows
    val mh = minhash(documents, k)
    // band keys as COLUMNS (no explode): one row per doc carrying all
    // `bands` keys. The per-doc key table is tiny (docs x bands 32-char
    // keys) but expensive to derive (text scan + k md5-minima per doc) —
    // persist it so the per-band self-joins don't recompute the scan.
    // Tracked: Caches.release() (bench harness / pipeline run handle)
    // unpersists it once downstream results are materialized.
    val bandKeys = (0 until bands).map { b =>
      val slots = (0 until rows).map(r => col(s"mh_${b * rows + r}"))
      md5(concat_ws("|", slots: _*)).as(s"bk_$b")
    }
    // [[spread]] before caching: the key table is the LEFT side of
    // every band join below, and with the post-join exchange gone its
    // partitioning IS the parallelism of the whole candidate/verify
    // stream. A small parquet input scans as one partition, which would
    // serialize the quadratic probe work onto one task; spreading AFTER
    // the key derivation exchanges only id+keys rows (O(docs * bands)
    // bytes), the cheapest point to buy the parallelism (measured:
    // spreading the text before the derivation instead costs one more
    // AQE stage than it saves at this derivation's per-row weight).
    val sig = graft.pipeline.Caches.tracked(
      spread(mh.select(col("doc_id") +: bandKeys: _*)))
    firstMatchingBandPairs(sig, bands, j => s"bk_$j", (_, k) => k)
  }

  /** Candidate pairs [a, b, extra...] (a < b) of the docs in `sig`
    * [doc_id, ...] that agree on at least one of `bands` bands, each pair
    * emitted exactly once. Band j's key is `bandOf(j, c)` of column
    * c = `keyCol(j)` of `sig`; on the join sides that column is named
    * with an `_a` / `_b` suffix, which is how `extra` refers to it.
    *
    * FIRST-MATCHING-BAND dedup instead of a candidate DISTINCT: band j's
    * self-join keeps a pair only when the docs agree on band j AND
    * disagree on every band before it, so each pair comes out of exactly
    * one band: the set the banded-union DISTINCT yields (TextOpsSpec
    * checks it), without the dedup exchange that shuffled the whole
    * near-quadratic candidate stream (measured at SF=0.1: 13.28M
    * pre-distinct rows for 6.74M pairs, the dominant d6/d7/d12/d14
    * cost). Pairs flow straight out of the per-band join probes. Cost
    * shape: `bands` equi-joins of the signature table with itself (AQE
    * broadcast-or-shuffle decided) adding O(docs * bands) join-side
    * bytes, against the O(candidate pairs) exchange removed; the earlier
    * bands' predicates read columns the join already carries. */
  private def firstMatchingBandPairs(sig: DataFrame, bands: Int,
      keyCol: Int => String, bandOf: (Int, Column) => Column,
      extra: Column*): DataFrame =
    (0 until bands).map { i =>
      // each side carries only the key columns bands 0..i read
      val carried = (0 to i).map(keyCol).distinct
      def side(id: String): DataFrame = sig.select(col("doc_id").as(id) +:
        carried.map(c => col(c).as(s"${c}_$id")): _*)
      def key(j: Int, id: String): Column =
        bandOf(j, col(s"${keyCol(j)}_$id"))
      val firstMatchHere = (0 until i)
        .map(j => key(j, "a") =!= key(j, "b"))
        .foldLeft(col("a") < col("b"))(_ && _)
      side("a").join(side("b"), key(i, "a") === key(i, "b") && firstMatchHere)
        .select(col("a") +: col("b") +: extra: _*)
    }.reduce(_ unionByName _)

  /** Sorted hashed token set: the unigram input of the set-Jaccard
    * verify. Tokens are pre-hashed to longs so the per-pair intersect
    * compares 8-byte values instead of re-hashing strings (measured ~5x
    * on the verify stage). xxhash64 collisions would need two distinct
    * tokens of one PAIR to collide (~600 values in a 2^64 space,
    * ~1e-14/pair), far below the corpus-level md5-dedup noise floor, and
    * the oracle stays string-exact. */
  private def hashedTokens(toks: Column): Column =
    sort_array(transform(array_distinct(toks), t => xxhash64(t)))

  /** Sorted hashed set of the w-token shingles (same hashing as
    * [[hashedTokens]]); a doc shorter than w is one shingle. */
  private def hashedShingles(toks: Column, w: Int): Column =
    sort_array(array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(w)))))))

  /** Set-Jaccard verify of candidate pairs [a, b]: one output column per
    * `sets` entry (name -> per-doc sorted hashed set over `docs`), each
    * |a n b| / (|a| + |b| - |a n b|) rounded to 4 places.
    *
    * Join shape: the per-doc set table is the dimension side (one row per
    * doc, vs O(near-dups) candidate pairs on the fact side). No explicit
    * broadcast hint (see the object notes): AQE broadcasts it while it
    * fits and degrades to a shuffle join keyed on doc id on a corpus
    * whose doc table outgrows executor memory; the pair side still
    * shuffles only id-width rows, never two sets per pair twice. The set
    * table is derived once but joined TWICE (a and b sides): persisted,
    * since without it each side recomputes the text scan + tokenize +
    * hash (measured ~2x on the verify stage); Caches.release()
    * unpersists it. Sets arrive sorted so the intersect is an
    * allocation-free merge count (IntersectCountSorted): the sort is paid
    * once per doc, the merge once per pair, and |union| comes from the
    * sizes without a second array walk. */
  private def setJaccardOfPairs(docs: DataFrame, pairs: DataFrame,
      sets: Seq[(String, Column)]): DataFrame = {
    val ix = sets.indices
    val dims = graft.pipeline.Caches.tracked(ix.foldLeft(
      docs.select(col("doc_id").cast("long").as("doc_id") +:
        ix.map(i => sets(i)._2.as(s"s$i")): _*)) { (df, i) =>
      df.withColumn(s"n$i", size(col(s"s$i")))
    })
    def side(id: String): DataFrame = dims.select(col("doc_id").as(id) +:
      (ix.map(i => col(s"s$i").as(s"s${i}_$id")) ++
        ix.map(i => col(s"n$i").as(s"n${i}_$id"))): _*)
    val counted = ix.foldLeft(
      pairs.join(side("a"), "a").join(side("b"), "b")) { (df, i) =>
      df.withColumn(s"i$i", graft.functions.IntersectCountSorted.count(
        col(s"s${i}_a"), col(s"s${i}_b")))
    }
    counted.select(col("a") +: col("b") +: ix.map { i =>
      round(col(s"i$i").cast("double") /
        (col(s"n${i}_a") + col(s"n${i}_b") - col(s"i$i")).cast("double"), 4)
        .as(sets(i)._1)
    }: _*)
  }

  /** Exact token-set Jaccard for candidate pairs (verification stage of
    * near-dup detection), via [[setJaccardOfPairs]]. Unlike the two
    * shingle passes it does not [[spread]] its input. */
  def jaccardOfPairs(documents: DataFrame, pairs: DataFrame): DataFrame =
    setJaccardOfPairs(documents, pairs,
      Seq("jaccard" -> hashedTokens(tokens(col("text")))))

  /** n-gram (shingle) Jaccard for candidate pairs: like
    * [[jaccardOfPairs]] but over the set of w-token shingles instead of
    * unigrams — order-sensitive, so reshuffled near-dups score lower
    * than bag-of-words Jaccard. The input is [[spread]] first: shingling
    * (w slices + hash per token position) is the most expensive
    * dimension derivation in the suite. */
  def ngramJaccardOfPairs(documents: DataFrame, pairs: DataFrame,
      w: Int = 3): DataFrame =
    setJaccardOfPairs(spread(documents), pairs,
      Seq("ngram_jaccard" -> hashedShingles(tokens(col("text")), w)))

  /** Combined verify pass: unigram Jaccard AND w-token shingle Jaccard
    * for the same candidate pairs in ONE pair join. Pipelines that want
    * both measures (the common near-dup setup: bag-of-words to catch
    * reshuffles, shingles to score order) otherwise run
    * [[jaccardOfPairs]] + [[ngramJaccardOfPairs]] — two pair joins, two
    * dimension derivations over the same text scan. Here the dimension
    * table carries both hashed sets per doc (derived in one scan,
    * persisted once) and the pair side shuffles once. */
  def jaccardBothOfPairs(documents: DataFrame, pairs: DataFrame,
      w: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    setJaccardOfPairs(spread(documents), pairs, Seq(
      "jaccard" -> hashedTokens(toks),
      "ngram_jaccard" -> hashedShingles(toks, w)))
  }

  /** SimHash-64 over tokens: per bit, sign of sum over tokens of
    * (bit(hash64(token)) ? +1 : -1). The 64 token-hash bits are the
    * first 16 hex nibbles of md5(token) (bit i = bit i%4 of nibble i/4)
    * — hash choice is arbitrary by construction, and md5 has an exact
    * DuckDB twin, so the oracle is hash-exact cross-engine (xxhash64,
    * used in round 2, has none). */
  def simhash(documents: DataFrame): DataFrame =
    // fused codegen'd SimHashSig: the signature is a pure per-doc
    // function, so it is computed as a narrow projection — the previous
    // explode + 64-aggregate groupBy shuffled a 65-column token stream
    // for something that never needed an exchange (TextOpsSpec pins the
    // banding behavior; the d8 DuckDB oracle pins hash-exact values).
    // The isNotNull guard mirrors the old explode semantics, which
    // dropped a null-text doc instead of emitting a null signature.
    spread(documents.where(col("text").isNotNull))
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.SimHashSig.sig(
          array_distinct(tokens(col("text")))).as("simhash"))

  /** SimHash near-duplicate pairs: candidates share a 16-bit band of the
    * 64-bit signature (4 bands -> one shuffle per band on tiny keys),
    * verified by Hamming distance via bit_count(xor) — all built-ins,
    * no O(n^2) stage.
    *
    * Recall contract: with 4 disjoint 16-bit bands, pigeonhole GUARANTEES
    * a shared band (hence recall 1.0) only for Hamming <= 3; pairs at
    * distance 4..maxHamming are found only when their differing bits
    * happen to cluster (measured ~0.7-0.9 recall on mixed corpora —
    * TextOpsSpec holds the floor). For guaranteed recall at maxHamming=6
    * one would need 7+ bands (= 9-bit keys), whose 512-value keyspace
    * collides into near-all-pairs buckets at corpus scale — the 4x16
    * banding is the deliberate precision/recall/cost point. */
  def simhashNearDupPairs(documents: DataFrame, maxHamming: Int = 6): DataFrame = {
    // [[spread]] inside [[simhash]] keeps the cached signature table —
    // the left side of every band join — at >= cores partitions
    val sig = graft.pipeline.Caches.tracked(simhash(documents))
    // band j = the j-th 16-bit slice of the signature; the Hamming cut
    // applies per row on the deduped stream (it commutes with the
    // dedup: hamming is a function of the pair)
    firstMatchingBandPairs(sig, 4, _ => "simhash",
        (j, h) => shiftright(h, j * 16).bitwiseAND(0xffffL),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** TF-IDF top-k terms per document: tf = in-doc term count, idf =
    * ln(N / df), top k by (score desc, term asc).
    *
    * Shape at scale: every stage is keyed — tf groupBy (doc, term), df
    * groupBy term with map-side combine (distinct doc/term pairs first,
    * one shuffle each), score join keyed on term, the corpus size N
    * attached as a broadcast single-row cross join (never a driver-side
    * collect), and the final top-k window partitioned per doc. No
    * unkeyed window, no all-pairs stage. */
  def tfidfTopK(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(tokens(col("text"))).as("term"))
    // tf feeds BOTH the score and the document frequency: tf already
    // has exactly one row per distinct (doc, term), so df = its count
    // per term — deriving dfreq from tok instead would re-run the
    // scan+explode (the d7/d12 double-derivation pattern)
    val tf = graft.pipeline.Caches.tracked(
      tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", round(col("tf") *
        log(col("n_docs").cast("double") / col("df").cast("double")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rank"))
  }

  /** Token-level rolling-hash document fingerprint (winnowing-lite):
    * min of md5 over every w-token shingle (hex-string min — the same
    * engine-neutral construction as the minhash slots, so the oracle is
    * hash-exact; the hash choice is arbitrary by construction). */
  def fingerprint(documents: DataFrame, w: Int = 3): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val shingles = transform(
      sequence(lit(0), greatest(n - w, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(w))))
    spread(documents).select(col("doc_id").cast("long").as("doc_id"),
      array_min(transform(shingles, s => md5(s))).as("fingerprint"))
  }

  /** Repetition scores — the duplicate-content quality filters of the
    * Gopher/MassiveText recipe (Rae et al. 2021, appendix A1.1), the
    * standard pre-training gate beside [[qualityScore]]:
    *
    *  - `dup_line_frac`: fraction of lines that are repeats of an
    *    earlier line (distinct-count form: (n - n_distinct) / n);
    *  - `dup_line_char_frac`: fraction of line characters inside those
    *    repeated occurrences (sum(len) - sum over distinct of len,
    *    over sum(len) — newline separators excluded from both sides);
    *  - `top2gram_char_frac`: characters covered by the most frequent
    *    word 2-gram (count x len incl. the joining space) over total
    *    chars; 0.0 for docs with fewer than two tokens.
    *
    * Shape at scale: a pure narrow projection — all three scores come
    * from higher-order functions over the doc's own line/token arrays,
    * so the operator is zero-shuffle and embarrassingly parallel at any
    * corpus size. Per-doc cost is O(tokens log tokens): the top-2-gram
    * mode comes from ONE pass over the sorted bigram array (longest
    * equal-run, max of run x len carried in the fold state) — the naive
    * distinct x filter form is O(bigrams^2) per doc and measured 94.5 s
    * vs 3.3 s on the SF=0.1 corpus, a per-DOC scale trap no cluster
    * fixes (one pathological long document stalls its partition). The
    * distinct-line char sums sidestep per-value counting entirely
    * (duplicate chars = total minus first-occurrence chars). */
  def repetitionScores(documents: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val toks = tokens(col("text"))
    val n = size(toks)
    def charSum(arr: Column): Column =
      aggregate(arr, lit(0L), (acc, x) => acc + length(x))
    val lineChars = charSum(lines)
    val distinctLineChars = charSum(array_distinct(lines))
    // sequence(0, n-2) flips to a DESCENDING range when n < 2 (Spark
    // auto-steps -1) — the n >= 2 guard is load-bearing, not cosmetic
    val bigrams = transform(sequence(lit(0), n - 2),
      i => concat_ws(" ", slice(toks, i + 1, lit(2))))
    // mode x len over the SORTED array: equal bigrams are adjacent, so
    // a single fold tracking (prev, run-length, best run x len) finds
    // max over distinct g of count(g) x len(g) without the quadratic
    // distinct x filter recount (best updates every step, so it holds
    // the running max when the run ends)
    val topBigramChars = aggregate(array_sort(bigrams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"),
            run * length(x).cast("long")).as("best"))
      },
      acc => acc.getField("best"))
    spread(documents).select(
      col("doc_id").cast("long").as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      round((size(lines) - size(array_distinct(lines)))
        .cast("double") / size(lines).cast("double"), 4)
        .as("dup_line_frac"),
      round(when(lineChars > 0,
          (lineChars - distinctLineChars).cast("double") /
            lineChars.cast("double"))
        .otherwise(0.0), 4).as("dup_line_char_frac"),
      round(when(n >= 2,
          topBigramChars.cast("double") / length(col("text")).cast("double"))
        .otherwise(0.0), 4).as("top2gram_char_frac"))
  }
}

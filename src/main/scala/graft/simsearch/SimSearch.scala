package graft.simsearch

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.textops.TextOps.spread

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * - [[cosineTopK]]: brute-force cosine top-k per query — the exactness
  *   baseline. All arithmetic in double with left-to-right accumulation
  *   (`aggregate` over zip_with), so results are bit-deterministic and
  *   reproducible cross-engine.
  * - [[lshTopK]] / [[lshNearDupPairs]]: OR-banded random-hyperplane
  *   LSH, a scale path. A band's bucket key = sign bits against
  *   `planesPerBand` fixed pseudo-random hyperplanes (generated
  *   arithmetically, so executors need no broadcast). Candidates meet in
  *   one equi-join on (band, bucket), and each pair is kept only at its
  *   first matching band, so no dedup shuffle follows; exact cosine
  *   re-ranks. At 100 TB this turns O(n^2) into O(n * bucket_size).
  * - [[ivfTopK]]: inverted-file ANN, the other scale path: one cell per
  *   corpus vector, `nprobe` cells per query, one equi-join on the cell.
  *
  * Every score is `round(cosine, 6)`, the cross-engine convention, and
  * every top-k orders by (cos desc, neighbor_id asc).
  */
object SimSearch {

  /** Sequential-order double dot product of two float-array columns
    * (composed-builtins form, kept as the reference implementation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Hot-path cosine: the custom codegen'd Catalyst expression — one
    * pass over both arrays, no intermediate array, bit-identical values to
    * [[cosineComposed]] (same left-to-right double accumulation). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine(a, b)

  /** Top-k neighbors for each query row against the corpus (brute force).
    * Both inputs: [id: long, embedding: array<float>]. Deterministic
    * tie-break on (cos desc, corpus id asc). */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"),
      col("embedding").as("qe"))
    val c = corpus.select(col("id").as("neighbor_id"),
      col("embedding").as("ce"))
    topK(q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos6(col("qe"), col("ce")).as("cos")), k)
  }

  /** Cosine rounded to 6 places: the cross-engine score convention. */
  private def cos6(a: Column, b: Column): Column = round(cosine(a, b), 6)

  /** The `k` best rows per `query_id` by (cos desc, neighbor_id asc),
    * numbered by `rank`. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a fixed arithmetic hash mapped to [-1, 1]. Pure Catalyst exprs,
    * reproducible 1:1 in the DuckDB oracle (integer arithmetic + one
    * division). */
  private def planeComponent(plane: Int, dim: Column): Column = {
    val h = pmod(
      (dim * lit(2654435761L) + lit(plane.toLong * 40503L + 2166136261L)),
      lit(1000003L))
    (h.cast("double") / lit(500001.5)) - lit(1.0)
  }

  /** Sign-bit LSH bucket id over planes [firstPlane, firstPlane+n). */
  def bucketKey(embedding: Column, nPlanes: Int, firstPlane: Int = 0): Column =
    (0 until nPlanes).map { j =>
      val proj = aggregate(
        transform(embedding, (x, i) => x.cast("double") *
          planeComponent(firstPlane + j, i.cast("long"))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << j)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** OR-banded buckets: `bands` independent sign-bit buckets of
    * `planesPerBand` hyperplanes each (band b uses planes
    * [b*planesPerBand, (b+1)*planesPerBand)). One exploded row per
    * (id, band). Two vectors at angle theta share a given band with
    * p = (1 - theta/pi)^planesPerBand, hence ANY band with
    * 1 - (1-p)^bands — the single-bucket recall cliff (~0.29 at
    * cos 0.9 for 8 planes) becomes ~0.996 for 16 bands x 8 planes,
    * while random pairs still collide on only ~6% of band keys.
    * Narrow projection + explode: zero shuffle until the band join. */
  def bandBuckets(corpus: DataFrame, bands: Int = 16,
      planesPerBand: Int = 8): DataFrame =
    // fused custom Expression: ONE pass over the embedding computes all
    // bands*planesPerBand projections (the composed per-plane
    // aggregate(transform(...)) form walks the array 128 times);
    // bit-identical outputs — SimSearchSpec proves it against bucketKey.
    // Embeddings deliberately NOT carried: the band join moves
    // (id, band, bucket) rows only; embeddings re-attach from the
    // dimension side afterwards.
    corpus.select(col("id"),
      posexplode(graft.functions.HyperplaneBuckets.buckets(
        col("embedding"), bands, planesPerBand)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "bucket")

  /** Candidate pairs [l, r] of `left` x `right` ids that share an
    * OR-band bucket and pass `keep`, each emitted from its FIRST matching
    * band only. Every exploded (id, band, bucket) row carries the id's
    * whole bucket array, so a joined row can tell whether an earlier band
    * already matched (`FirstEqualIndex`, a codegen'd allocation-free
    * compare loop; the composed slice/zip_with/filter form is
    * CodegenFallback and measured 3x the whole query). Each pair thus
    * comes out of exactly one band, the set the banded-union DISTINCT
    * yields (SimSearchSpec checks it), and the near-quadratic candidate
    * stream is never shuffled into a dedup exchange. The join sides carry
    * `bands` extra longs per exploded row (O(n * bands^2) bytes) against
    * the O(candidate pairs) exchange removed; candidates stay bare id
    * pairs, embeddings re-attach in [[scoredPairs]]. */
  private def bandCandidates(left: DataFrame, right: DataFrame, l: String,
      r: String, keep: Column, bands: Int, planesPerBand: Int): DataFrame = {
    def side(df: DataFrame, id: String, bkts: String): DataFrame =
      df.select(col("id"), graft.functions.HyperplaneBuckets.buckets(
          col("embedding"), bands, planesPerBand).as("bkts"))
        .select(col("id"), col("bkts"), posexplode(col("bkts")))
        .select(col("id").as(id), col("bkts").as(bkts),
          col("pos").as("band_idx"), col("col").as("bucket"))
    side(left, l, "ba").join(side(right, r, "bb"), Seq("band_idx", "bucket"))
      .where(keep && graft.functions.FirstEqualIndex.index(
        col("ba"), col("bb")) === col("band_idx"))
      .select(col(l), col(r))
  }

  /** Re-attaches the embeddings of `left` (ids `l`) and `right` (ids
    * `r`) to id pairs and scores them: [l, r, cos]. No explicit
    * broadcast hint (an explicit hint is mandatory for Spark, AQE will
    * not degrade it, so a corpus-sized embedding table would OOM): AQE
    * broadcasts while a side fits and falls back to a shuffle join on
    * id at scale. */
  private def scoredPairs(pairs: DataFrame, left: DataFrame,
      right: DataFrame, l: String, r: String): DataFrame =
    pairs
      .join(left.select(col("id").as(l), col("embedding").as("ea")), l)
      .join(right.select(col("id").as(r), col("embedding").as("eb")), r)
      .select(col(l), col(r), cos6(col("ea"), col("eb")).as("cos"))

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cosine >= threshold. Exact (cross-join) form — the correctness
    * baseline the LSH-bucketed variant is measured against; at corpus
    * scale use [[lshNearDupPairs]]. */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double): DataFrame = {
    // spread the streamed side: all O(n^2/2) cosines of the exact
    // baseline run on its partitions (see TextOps.spread)
    val a = spread(corpus).select(col("id").as("a"), col("embedding").as("ea"))
    val b = corpus.select(col("id").as("b"), col("embedding").as("eb"))
    a.crossJoin(b).where(col("a") < col("b"))
      .select(col("a"), col("b"), cos6(col("ea"), col("eb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Scale path: near-dup pairs restricted to pairs sharing at least one
    * OR-band bucket (16 bands x 8 planes by default: recall ~0.996 at
    * cos 0.9 — SimSearchSpec holds a measured >= 0.9 floor), verified
    * with exact cosine. Band keys are (int, long) pairs — the shuffle is
    * O(n * bands), never O(n^2). */
  def lshNearDupPairs(corpus: DataFrame, threshold: Double,
      bands: Int = 16, planesPerBand: Int = 8): DataFrame = {
    val cand = bandCandidates(corpus, corpus, "a", "b",
      col("a") < col("b"), bands, planesPerBand)
    scoredPairs(cand, corpus, corpus, "a", "b")
      .where(col("cos") >= threshold)
  }

  /** IVF cell assignment: each vector to its single nearest centroid
    * (cosine, rounded to 6 — the cross-engine convention — ties to the
    * smaller centroid_id). `centroids` is a quantizer-sized DIMENSION
    * table [centroid_id: long, embedding] — k cells, never
    * corpus-sized — so the explicit broadcast is safe by contract; at
    * 100 TB the centroids come from an offline sample (k-means or any
    * quantizer — the operator is agnostic to how they were trained).
    * Shape: broadcast nested-loop fan-out (k rows per vector, narrow)
    * then a map-side-combinable argmax groupBy — the only shuffle
    * carries (id, cell) id-width rows. Returns [id, cell]. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame): DataFrame =
    centroidScores(vectors, centroids)
      .groupBy(col("id"))
      // argmax as an algebraic max over (cos, -centroid_id): highest
      // cosine wins, ties to the smallest centroid id — deterministic
      // and map-side combinable (vs a row_number window's full sort)
      .agg(max(struct(col("ccos").as("c"),
        (-col("centroid_id")).as("nid"))).as("m"))
      .select(col("id"), (-col("m.nid")).as("cell"))

  /** Every (vector, centroid) pair: [id, ccos, centroid_id]. The
    * centroid table is quantizer-sized (k cells, never corpus-sized), so
    * the explicit broadcast is safe by contract. */
  private def centroidScores(vectors: DataFrame,
      centroids: DataFrame): DataFrame = {
    val c = broadcast(centroids.select(col("centroid_id").cast("long")
      .as("centroid_id"), col("embedding").as("cemb")))
    vectors.select(col("id"), col("embedding")).crossJoin(c)
      .select(col("id"), cos6(col("embedding"), col("cemb")).as("ccos"),
        col("centroid_id"))
  }

  /** The query side of IVF: each query's `nprobe` nearest cells
    * (same rounded-cosine ordering as [[ivfAssign]]). Returns
    * [id, cell], `nprobe` rows per query. */
  def ivfProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    centroidScores(queries, centroids).withColumn("rn", row_number().over(w))
      .where(col("rn") <= nprobe)
      .select(col("id"), col("centroid_id").as("cell"))
  }

  /** IVF (inverted-file) ANN top-k — the second scale path beside the
    * OR-banded LSH. Corpus vectors live in exactly ONE cell each, so
    * candidate pairs are unique by construction and the join needs no
    * first-matching-band predicate or bucket arrays on its rows, unlike
    * [[lshTopK]]; queries probe their `nprobe` nearest cells; exact
    * cosine re-ranks. Candidates meet in ONE equi-join on the cell id —
    * with balanced cells the pair count is O(|corpus| * nprobe /
    * k_cells), never O(n^2) — and the join carries id-width rows;
    * embeddings re-attach from the dimension side (AQE-decided, see
    * [[scoredPairs]]). At corpus scale the assignment is the partition
    * layout: persist [id, cell] bucketed by cell and the probe join
    * prunes to the touched cells only. Recall gate (clustered vectors)
    * in SimSearchSpec; cross-engine exactness via the `e5_ivf_topk`
    * DuckDB oracle. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      centroids: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val cAssign = ivfAssign(corpus, centroids)
      .select(col("id").as("neighbor_id"), col("cell"))
    val qProbes = ivfProbes(queries, centroids, nprobe)
      .select(col("id").as("query_id"), col("cell"))
    val cand = qProbes.join(cAssign, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    topK(scoredPairs(cand, queries, corpus, "query_id", "neighbor_id"), k)
  }

  /** Approximate top-k: candidates restricted to the query's OR-band
    * buckets (each pair from its first shared band), re-ranked by exact
    * cosine. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      bands: Int = 16, planesPerBand: Int = 8): DataFrame = {
    val cand = bandCandidates(queries, corpus, "query_id", "neighbor_id",
      col("query_id") =!= col("neighbor_id"), bands, planesPerBand)
    topK(scoredPairs(cand, queries, corpus, "query_id", "neighbor_id"), k)
  }
}

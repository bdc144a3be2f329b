package graft

import org.apache.spark.sql.functions._
import graft.simsearch.SimSearch

/** The LSH scale path's recall contract vs the exact cross-join
  * baseline, on clustered synthetic vectors (the driver's embeddings
  * table is near-orthogonal, so near-dup recall must be evidenced
  * here). */
class SimSearchSpec extends SparkSpec {
  import spark.implicits._

  /** 30 random unit-ish bases x 4 noisy copies each: within-cluster
    * cosine > 0.9, cross-cluster ~0. Deterministic seed. */
  private def clustered = {
    val dim = 64
    (0 until 30).flatMap { c =>
      val rnd = new java.util.Random(1000 + c)
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      (0 until 4).map { v =>
        val noise = new java.util.Random(c * 100 + v)
        val e = base.map(x => x + 0.12f * noise.nextGaussian().toFloat)
        ((c * 4 + v).toLong, e)
      }
    }.toDF("id", "embedding")
  }

  test("fused HyperplaneBuckets expression == composed per-plane bucketKey") {
    val corpus = clustered
    val fused = SimSearch.bandBuckets(corpus, 16, 8)
      .select("id", "band_idx", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    val composed = corpus.select(col("id"),
      explode(array((0 until 16).map(b => struct(lit(b).as("band_idx"),
        SimSearch.bucketKey(col("embedding"), 8, firstPlane = b * 8)
          .as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("bb.band_idx"), col("bb.bucket"))
      .as[(Long, Int, Long)].collect().toSet
    assert(fused == composed)
  }

  test("banded LSH near-dup recall >= 0.9 vs exact pairs at cos 0.9") {
    val corpus = clustered
    val exact = SimSearch.cosineNearDupPairs(corpus, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 50, s"fixture too sparse: ${exact.size} pairs")
    val lsh = SimSearch.lshNearDupPairs(corpus, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // precision is 1.0 by construction (exact-cosine verify) ...
    assert(lsh.subsetOf(exact))
    // ... recall is the banding's job
    val recall = lsh.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall $recall < 0.9")
  }

  test("IVF: one cell per vector, unique candidates, top-1 recall on probed clusters") {
    val corpus = clustered
    // centroids = one seed per cluster (v = 0 copies): the operator
    // takes ANY centroid table; here the quantizer is cluster-aligned
    // so nprobe=1 must already recover the true neighborhood
    val cents = corpus.where($"id" % 4 === 0)
      .select(($"id" / 4).cast("long").as("centroid_id"), $"embedding")
    // structural contract: exactly ONE cell per corpus vector (this is
    // what makes IVF candidates duplicate-free without a dedup shuffle)
    val assign = SimSearch.ivfAssign(corpus, cents)
    assert(assign.count() == corpus.count())
    assert(assign.select("id").distinct().count() == corpus.count())
    // cluster-aligned quantizer ⇒ every member lands in its own cluster's cell
    val misassigned = assign
      .where(($"id" / 4).cast("long") =!= $"cell").count()
    assert(misassigned == 0, s"$misassigned vectors left their cluster cell")
    val queries = corpus.where($"id" % 4 === 1)
    val ivf = SimSearch.ivfTopK(queries, corpus, cents, nprobe = 1, k = 3)
    // candidate uniqueness: (query, neighbor) appears at most once
    val cand = ivf.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect()
    assert(cand.length == cand.distinct.length)
    // with the aligned quantizer, nprobe=1 top-1 == exact top-1
    val exactTop = SimSearch.cosineTopK(queries, corpus, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivfTop = ivf.where($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(exactTop == ivfTop)
  }

  test("banded lshTopK finds the true nearest neighbor for most queries") {
    val corpus = clustered
    val queries = corpus.where($"id" % 4 === 0) // one per cluster
    val exactTop = SimSearch.cosineTopK(queries, corpus, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val lshTop = SimSearch.lshTopK(queries, corpus, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exactTop.count { case (q, n) => lshTop.get(q).contains(n) }
    assert(hits.toDouble / exactTop.size >= 0.9,
      s"top-1 agreement ${hits.toDouble / exactTop.size}")
  }

  test("cosineTopK never ranks a zero vector: its cosine is NULL, not NaN") {
    // Spark orders NaN above every double, so a 0/0 score would put the
    // zero vector first for every query under `cos desc`
    val zero = Seq((9999L, Array.fill(64)(0.0f))).toDF("id", "embedding")
    val corpus = clustered.unionByName(zero)
    val top = SimSearch.cosineTopK(corpus.where($"id" % 4 === 0), corpus, 2)
    assert(top.count() == 60)
    assert(top.where($"neighbor_id" === 9999L).isEmpty,
      "zero vector ranked among the top 2")
  }

  test("FirstEqualIndex == composed first-equal-position form") {
    // the codegen'd predicate behind the first-matching-band dedup must
    // agree with the composed higher-order-function reference on every
    // case class: no match (-1), first-position match, later match
    val rows = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),   // no match -> -1
      (Array(1L, 2L, 3L), Array(1L, 9L, 9L)),   // match at 0
      (Array(1L, 2L, 3L), Array(9L, 9L, 3L)),   // match at 2
      (Array(7L, 8L, 9L), Array(9L, 8L, 7L)),   // match at 1
      (Array.empty[Long], Array.empty[Long]))   // empty -> -1
      .toDF("a", "b")
    val got = rows.select(
      graft.functions.FirstEqualIndex.index($"a", $"b").as("i"),
      (coalesce(array_position(
        zip_with($"a", $"b", (x, y) => x === y), lit(true)),
        lit(0L)).cast("int") - 1).as("ref"))
      .as[(Int, Int)].collect()
    got.foreach { case (i, ref) => assert(i == ref, s"got $i want $ref") }
    // a null element would read as 0 in the compare loop: arrays that may
    // hold nulls fail analysis instead
    val withNull = Seq((Seq(Some(1L), None), Seq(Some(1L), Some(2L))))
      .toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      withNull.select(graft.functions.FirstEqualIndex.index($"a", $"b"))
        .collect()
    }
    assert(e.getMessage.contains("first_equal_index"))
  }

  test("first-matching-band candidate dedup == banded-union DISTINCT") {
    // lshNearDupPairs' candidate generation (one pair per first shared
    // band, no distinct exchange) must produce exactly the same pair set
    // as the explode + join + DISTINCT construction it replaced
    val corpus = clustered
    val bkt = SimSearch.bandBuckets(corpus, 16, 8)
    val a = bkt.select($"id".as("a"), $"band_idx", $"bucket")
    val b = bkt.select($"id".as("b"), $"band_idx", $"bucket")
    val reference = a.join(b, Seq("band_idx", "bucket"))
      .where($"a" < $"b").select($"a", $"b").distinct()
      .as[(Long, Long)].collect().toSet
    // the production path: pairs surviving any cosine cut of -1 are ALL
    // candidate pairs the banding produced
    val viaOperator = SimSearch.lshNearDupPairs(corpus, threshold = -1.0)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(viaOperator == reference)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.canonical.Canonicalize

/** CC under alias-frequency skew, MEASURED (the design claim in
  * PLANS.md — "map-side combine absorbs alias skew" — was argued, not
  * evidenced): one surface form shared by 1e5 entities among 1e6 must
  * not produce a straggler, because every per-round aggregation is an
  * algebraic min — partial aggregation collapses the hot form's rows
  * per input partition BEFORE the shuffle, so the hot reducer receives
  * one row per upstream partition, not 1e5 rows. */
class CanonicalizeSkewSpec extends SparkSpec {

  private def entities(n: Int, hotEvery: Int) = {
    import spark.implicits._
    // lowercase snake aliases: formsExpr collapses to 2 forms/entity
    spark.range(n.toLong).select(
      format_string("e%07d", $"id").as("entity_key"),
      lit("FUNCTION").as("kind"),
      (if (hotEvery > 0)
        when($"id" % hotEvery === 0, "hot_alias")
          .otherwise(format_string("alias_%d", $"id"))
      else format_string("alias_%d", $"id")).as("alias"))
  }

  test("1e5-entity hot alias among 1e6: correct merge, no straggler blowup vs uniform") {
    val n = 1000000
    def timeRun(hotEvery: Int): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val canon = Canonicalize.components(spark, entities(n, hotEvery))
        .persist()
      val rows = canon.count()
      val comps = canon.select("canonical").distinct().count()
      val secs = (System.nanoTime() - t0) / 1e9
      canon.unpersist()
      graft.pipeline.Caches.release()
      (rows, comps, secs)
    }
    // warm-up (JIT + codegen for the plan shape), then timed pair
    timeRun(0)
    val (uRows, uComps, uniformSec) = timeRun(0)
    val (sRows, sComps, skewSec) = timeRun(10)

    // correctness under skew: every 10th entity folds into ONE
    // component whose representative is the minimum member key
    assert(uRows == n && uComps == n)
    assert(sRows == n)
    assert(sComps == (n - n / 10 + 1).toLong,
      s"skewed components: $sComps")
    // the hot component's canonical is the min entity_key of the hot set
    val canon = Canonicalize.components(spark, entities(n, 10))
    val hot = canon.filter(col("entity_key") === "e0000010")
      .select("canonical").head().getString(0)
    assert(hot == "e0000000", s"hot canonical: $hot")
    graft.pipeline.Caches.release()

    // the skew claim: same plan, hot key 1e5 deep, completes within a
    // small constant of the uniform run (straggler behavior would be a
    // large multiple — the hot reducer would process 1e5 rows serially
    // if partial aggregation were not absorbing them). Bound 3x: the
    // runs are back-to-back in one session, so host drift largely
    // cancels; measured ratio on a quiet machine ~1.0.
    info(f"uniform: $uniformSec%.2f s, skewed: $skewSec%.2f s, " +
      f"ratio ${skewSec / uniformSec}%.2f")
    // the wall-clock bound is load-sensitive (this host's own bench
    // notes document 0.71-0.92 single-run efficiency drift and ±20%
    // probe wander): a steal burst hitting only the skewed arm would
    // fail CI spuriously. Correctness stays unconditional above; the
    // timing claim is asserted only when explicitly requested
    // (GRAFT_TIMING_ASSERTS=1, the measured-evidence run) and reported
    // via info() otherwise.
    if (sys.env.get("GRAFT_TIMING_ASSERTS").contains("1"))
      assert(skewSec <= uniformSec * 3.0,
        f"skewed CC $skewSec%.2f s vs uniform $uniformSec%.2f s — straggler")
    else if (skewSec > uniformSec * 3.0)
      info(f"timing bound exceeded (not asserted without " +
        f"GRAFT_TIMING_ASSERTS=1): $skewSec%.2f vs $uniformSec%.2f s")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import graft.corpus.CorpusGen
import graft.output.Metrics
import graft.pipeline.Pipeline

/** CLI entry: run the full KG pipeline on the synthetic corpus and report
  * triples + P/R vs the golden set. The spark-submit-shaped way into the
  * library.
  *
  * Usage: RunPipeline [sf] [cores] [outDir | --bench]
  *
  * `cores` defaults to `SPARK_GRAFT_CPUS`, else the machine's core count.
  *
  * `--bench` times the pipeline without scoring it: one warm-up run, then
  * the minimum of three timed runs. Comparing `RunPipeline 1.0 1 --bench`
  * with `RunPipeline 1.0 4 --bench` gives the N→4N scaling efficiency.
  * With `GRAFT_CHECKPOINT_DIR` set, the extract is checkpointed per batch
  * there and a killed run resumes from the committed batches.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(0.001)
    val cores = args.lift(1).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))
    val outDir = args.lift(2)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-kg-pipeline")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (outDir.contains("--bench")) {
      def once(runSf: Double): (Long, Double) = {
        val t0 = System.nanoTime()
        val h = Pipeline.runWithMetrics(spark,
          CorpusGen.rawDocs(spark, runSf), CorpusGen.gazette(runSf))
        val n = h.triples.count()
        val secs = (System.nanoTime() - t0) / 1e9
        h.cleanup()
        (n, secs)
      }
      // warm-up at a fraction of the target SF: the plan shape (and so
      // the generated codegen classes + JIT profile) is SF-independent,
      // so a small warm run buys full steady-state at a fraction of the
      // cost; then MIN over timed runs — a shared host shows +-30%
      // wall-time noise; min isolates code cost from interference
      once(math.max(0.01, sf * 0.2))
      val timed = (1 to 3).map(_ => once(sf))
      val nTriples = timed.head._1
      val secs = timed.map(_._2).min
      println(f"""{"sf":$sf,"cores":"$cores","docs":${CorpusGen.numDocs(sf)},"triples":$nTriples,"seconds":$secs%.2f,"triples_per_sec":${nTriples / secs}%.1f}""")
      spark.stop()
      return
    }
    val t0 = System.nanoTime()
    val raw = CorpusGen.rawDocs(spark, sf)
    val gazette = CorpusGen.gazette(sf)
    // opt-in per-doc checkpointed extract: a killed run resumes from the
    // committed batches instead of starting over
    val ckptDir = sys.env.get("GRAFT_CHECKPOINT_DIR")
    val run = ckptDir.fold(Pipeline.runWithMetrics(spark, raw, gazette))(
      Pipeline.runCheckpointed(spark, raw, gazette, _))
    val triples = run.triples
    val nTriples = triples.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val prf = Metrics.evaluate(triples, CorpusGen.goldenTriples(spark, sf))
    val truncated = run.truncatedSegments.value
    outDir.foreach(d => Pipeline.materialize(spark, triples, d,
      metrics = Map("truncated_segments" -> truncated.longValue)))
    val ckpt = ckptDir.fold("")(d => s""","checkpoint_dir":"$d",""" +
      s""""new_extract_batch":${run.newExtractBatch.fold("null")(b => s""""$b"""")}""")
    println(f"""{"sf":$sf,"cores":"$cores","docs":${CorpusGen.numDocs(sf)},"triples":$nTriples,"seconds":$secs%.2f,"triples_per_sec":${nTriples / secs}%.1f,"precision":${prf.precision}%.4f,"recall":${prf.recall}%.4f,"f1":${prf.f1}%.4f,"truncated_segments":$truncated$ckpt}""")
    run.cleanup()
    spark.stop()
  }
}

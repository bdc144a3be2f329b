package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.pipeline.Fs
import graft.schema.RawDoc
import graft.streaming.StreamingExtract

/** The stream part of `kg_flow`: streaming ingest into a linked
  * store. Set-up generates the seeded corpus (`Batches` x `BatchDocs`
  * documents) and splits it into equal micro-batches. One operation starts
  * `StreamingExtract.runToTriples` over a fresh `MemoryStream[RawDoc]`
  * and a fresh directory, and feeds the batches closed-loop: batch k+1
  * is added only after `processAllAvailable()` returns for batch k. A
  * step is one batch, timed from `addData` until
  * `processAllAvailable()` returns; the operation is their sum. With
  * `compactEvery = 2` the last batch folds the first two extract dirs
  * (one size-tiered compaction per operation).
  *
  * Check (untimed): the final triple table's distinct (subj, pred, obj)
  * equal `CorpusGen.goldenTriples` of the same documents in count and
  * order-independent hash (P = R = 1.0, the pipeline part's check), and
  * the compaction happened. */
final class KgStream(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  import KgStream.{BatchDocs, Batches, CompactEvery}

  def stepsPerOp: Int = Batches
  def layers: Seq[String] = Seq("stream")

  private val sf = Batches * BatchDocs / 200000.0
  private val gazette = CorpusGen.gazette(sf)
  private var batches: Seq[Seq[RawDoc]] = _
  private var expected: (Long, BigDecimal) = _
  private var out: String = _
  private var opNo = 0

  def setup(dir: String): Unit = {
    val docs = CorpusGen.rawDocs(spark, sf, seed).collect().toSeq
    require(docs.size == Batches * BatchDocs, s"generated ${docs.size} docs")
    batches = docs.grouped(BatchDocs).toSeq
  }

  def prepare(work: String): Unit = {
    out = s"$work/out"
    expected = digest(CorpusGen.goldenTriples(spark, sf, seed))
  }

  /** Row count and order-independent hash of a distinct triple set. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select($"subj", $"pred", $"obj").distinct().agg(count(lit(1)),
      sum(xxhash64($"subj", $"pred", $"obj").cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Runs the stream over a fresh directory; `wrap(k)` encloses the
    * timed part of batch k and `after(dir)` runs after it, untimed.
    * Returns the directory and each batch's seconds. */
  private def stream(wrap: Int => (=> Unit) => Unit,
      after: String => Unit = _ => ()): (String, Seq[Double]) = {
    Fs.deleteRecursive(out); opNo += 1
    val dir = s"$out/op$opNo"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[RawDoc]
    val q = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir,
      compactEvery = CompactEvery)
    val secs = try batches.zipWithIndex.map { case (b, k) =>
      val t0 = System.nanoTime()
      wrap(k) { ms.addData(b); q.processAllAvailable() }
      val secs = (System.nanoTime() - t0) / 1e9
      after(dir)
      secs
    } finally q.stop()
    (dir, secs)
  }

  private def extractDirs(dir: String): Seq[String] =
    Fs.listDirs(s"$dir/extract_stream", "batch_")

  private def result(dir: String, secs: Seq[Double]): Op = {
    val got = digest(spark.read.parquet(s"$dir/triples"))
    val compacted = extractDirs(dir).exists(_.endsWith("_c1"))
    if (got == expected && compacted)
      Op(secs.zipWithIndex.map { case (s, k) => s"micro$k" -> s }, Batches, 0, got._1)
    else {
      System.err.println(s"perfbench: kg_stream triples $got, expected $expected; " +
        s"compacted=$compacted")
      Op(Nil, Batches, Batches, 0L)
    }
  }

  def op(): Op = {
    val (dir, secs) = stream(_ => run => run)
    result(dir, secs)
  }

  /** The same stream with one span per batch; each batch's link
    * metrics (`state/batch_N/metrics.json`) are read right after it,
    * before the next batch prunes that state. */
  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op = {
    var ids = Seq.empty[Int]
    var ccRatios = Seq.empty[Double]
    val (dir, secs) = t.span(trace, -1, "stream") { root =>
      stream(k => run => t.span(trace, root.id, s"micro$k") { s => ids :+= s.id; run },
        dir => ccRatios :+= ccInputRatio(dir))
    }
    val counters = ids.map(t.counters)
    rec.add("stream.batch_jobs", Stats.median(counters.map(_.jobs.toDouble)))
    rec.add("stream.batch_tasks", Stats.median(counters.map(_.tasks.toDouble)))
    rec.add("stream.cc_input_ratio", Stats.median(ccRatios))
    rec.add("stream.state_mb", Disk.mb(s"$dir/state"))
    rec.add("stream.extract_dirs", extractDirs(dir).size.toDouble)
    rec.add("stream.batch_p50_s", Stats.median(secs))
    rec.add("stream.batch_max_s", secs.max)
    rec.add("stream.batch_samples", secs.size.toDouble)
    // last quarter of the batches over the first quarter (one batch each
    // while there are fewer than eight)
    val q = math.max(1, secs.size / 4)
    rec.add("stream.late_early_ratio",
      Stats.median(secs.takeRight(q)) / Stats.median(secs.take(q)))
    result(dir, secs)
  }

  /** `cc_input_entities / total_entities` of the latest committed state. */
  private def ccInputRatio(dir: String): Double = {
    val json = Fs.readString(s"${Fs.listDirs(s"$dir/state", "batch_").last}/metrics.json")
    val m = "\"(\\w+)\":(\\d+)".r.findAllMatchIn(json)
      .map(x => x.group(1) -> x.group(2).toDouble).toMap
    m("cc_input_entities") / m("total_entities")
  }
}

object KgStream {
  val Batches = 3
  val BatchDocs = 60
  val CompactEvery = 2
}

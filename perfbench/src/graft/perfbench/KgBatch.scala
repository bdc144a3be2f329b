package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.canonical.Canonicalize
import graft.corpus.CorpusGen
import graft.output.Metrics
import graft.pipeline.{Caches, Fs, Pipeline}
import graft.schema.RawDoc
import graft.sources.TripleSink

/** Directory sizes for the sink metrics. */
object Disk {
  private def files(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      } finally s.close()
    }
  }
  def mb(dir: String): Double =
    files(dir).map(java.nio.file.Files.size(_)).sum / (1024.0 * 1024.0)
  def parquetFiles(dir: String): Int =
    files(dir).count(_.getFileName.toString.endsWith(".parquet"))
}

/** The batch part of `kg_flow`, the headline user flow. Set-up writes the seeded corpus
  * as a parquet table with the north-rule schema (repo, path,
  * commit, lang, content). One operation is `Pipeline.runWithMetrics`
  * over a scan of that table followed by `Pipeline.materialize` through
  * the triple sink into a fresh directory, timed from the scan until
  * the sink commits. The check (untimed) reads the committed table back
  * and requires P = R = 1.0 against `CorpusGen.goldenTriples`. */
final class KgBatch(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import spark.implicits._
  import KgBatch.Sf

  def stepsPerOp: Int = 1
  def layers: Seq[String] = Seq("extract", "entities", "canonical", "joins", "sink")

  private var corpus: String = _
  private var out: String = _
  private val gazette = CorpusGen.gazette(Sf)
  private var golden: DataFrame = _
  private var goldenDigest: (Long, BigDecimal) = _
  private var opNo = 0

  def setup(dir: String): Unit = {
    CorpusGen.rawDocs(spark, Sf, seed).write.parquet(s"$dir/corpus")
    corpus = s"$dir/corpus"
  }

  def prepare(work: String): Unit = {
    out = s"$work/out"
    golden = CorpusGen.goldenTriples(spark, Sf, seed).persist()
    goldenDigest = digest(golden)
  }

  private def scan(): Dataset[RawDoc] = spark.read.parquet(corpus).as[RawDoc]

  private def freshOut(): String = {
    Fs.deleteRecursive(out); opNo += 1; s"$out/op$opNo"
  }

  /** Row count and order-independent hash of a distinct triple set. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select($"subj", $"pred", $"obj").distinct()
      .agg(count(lit(1)), sum(xxhash64($"subj", $"pred", $"obj").cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** P = R = 1.0 of the committed table (its distinct triples have the
    * golden set's count and hash); returns its row count, or -1. */
  private def check(dir: String): Long = {
    val t = spark.read.parquet(s"$dir/triples")
    if (digest(t) == goldenDigest) t.count()
    else {
      val prf = Metrics.evaluate(t, golden)
      System.err.println(s"perfbench: kg_batch P/R = ${prf.precision}/${prf.recall}")
      -1L
    }
  }

  private def result(secs: Double, dir: String): Op = {
    val n = check(dir)
    if (n < 0) Op(Nil, 1, 1, 0L) else Op(Seq("pipeline" -> secs), 1, 0, n)
  }

  def op(): Op = {
    val dir = freshOut()
    val t0 = System.nanoTime()
    val h = Pipeline.runWithMetrics(spark, scan(), gazette)
    Pipeline.materialize(spark, h.triples, dir)
    val secs = (System.nanoTime() - t0) / 1e9
    h.cleanup()
    result(secs, dir)
  }

  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op = {
    val sc = spark.sparkContext
    val dir = freshOut()
    val trunc = sc.longAccumulator("truncated_segments")
    def cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val cacheBefore = cachedMb
    var extractCacheMb = 0.0
    // the root span holds the five layer calls only; the boundary counts
    // and the releases run after it closes
    val (root, extracted, ents, canon, triples) = t.span(trace, -1, "pipeline") { root =>
      val extracted = t.span(trace, root.id, "extract") { s =>
        val e = Pipeline.extract(spark, scan(), gazette, Some(trunc),
          keepNegatives = false).persist()
        s.attrs("docs") = e.count().toDouble
        e
      }
      // the extract cache alone: nothing else is persisted yet
      extractCacheMb = cachedMb - cacheBefore
      val ents = t.span(trace, root.id, "entities") { s =>
        val e = Pipeline.dedupeEntities(extracted.flatMap(_.entities).toDF()).persist()
        s.attrs("rows") = e.count().toDouble
        e
      }
      val canon = t.span(trace, root.id, "canonical") { _ =>
        val c = Canonicalize.components(spark, ents).persist()
        c.count()
        c
      }
      val triples = t.span(trace, root.id, "joins") { s =>
        val tr = Pipeline.triplesOf(
          extracted.flatMap(_.predictions).toDF().filter($"answer"), canon).persist()
        s.attrs("triples") = tr.count().toDouble
        tr
      }
      t.span(trace, root.id, "sink") { _ =>
        TripleSink.resolve().write(spark, triples, dir, 32, Map.empty)
      }
      (root, extracted, ents, canon, triples)
    }
    val positives = extracted.map(_.predictions.length.toLong).reduce(_ + _).toDouble
    val sizes = canon.groupBy($"canonical").count()
      .agg(count(lit(1)), max($"count")).head()
    Seq(extracted, ents, canon, triples).foreach(_.unpersist())
    Caches.release()
    // positives over all candidates: one extract that keeps negatives
    if (trace == 1) {
      val pr = Pipeline.extract(spark, scan(), gazette)
        .flatMap(_.predictions).agg(count(lit(1)), sum($"answer".cast("long"))).head()
      rec.add("extract.positive_ratio", pr.getLong(1).toDouble / pr.getLong(0))
    }

    def wall(id: Int) = t.get(id).wallS
    val (ex, en, cc, jn, sk) = (root.id + 1, root.id + 2, root.id + 3, root.id + 4, root.id + 5)
    val exC = t.counters(ex)
    rec.add("extract.wall_s", wall(ex))
    rec.add("extract.task_s", exC.taskS)
    rec.add("extract.core_util", exC.taskS / (wall(ex) * cores))
    rec.add("extract.jobs", exC.jobs)
    rec.add("extract.tasks", exC.tasks.toDouble)
    rec.add("extract.docs", t.get(ex).attrs("docs"))
    rec.add("extract.positive_predictions", positives)
    rec.add("extract.truncated_segments", trunc.value.toDouble)
    rec.add("extract.cache_mb", extractCacheMb)
    rec.add("entities.wall_s", wall(en))
    rec.add("entities.rows", t.get(en).attrs("rows"))
    rec.add("entities.shuffle_write_mb", t.counters(en).shuffleWriteMb)
    val ccC = t.counters(cc)
    rec.add("canonical.wall_s", wall(cc))
    rec.add("canonical.components", sizes.getLong(0).toDouble)
    rec.add("canonical.largest_component", sizes.getLong(1).toDouble)
    rec.add("canonical.shuffle_write_mb", ccC.shuffleWriteMb)
    rec.add("canonical.spill_mb", ccC.spillMb)
    val jnC = t.counters(jn)
    rec.add("joins.wall_s", wall(jn))
    rec.add("joins.shuffle_read_mb", jnC.shuffleReadMb)
    rec.add("joins.sched_delay_s", jnC.schedDelayS)
    rec.add("joins.triples", t.get(jn).attrs("triples"))
    rec.add("sink.wall_s", wall(sk))
    rec.add("sink.bytes_written_mb", Disk.mb(s"$dir/triples"))
    rec.add("sink.files", Disk.parquetFiles(s"$dir/triples").toDouble)
    result(t.get(root.id).wallS, dir)
  }
}

object KgBatch {
  /** Corpus scale factor: `CorpusGen.numDocs(Sf)` documents. */
  val Sf = 0.01
}

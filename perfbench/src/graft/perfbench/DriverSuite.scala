package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.pipeline.{Caches, Fs}

/** `driver_suite`: every `SparkEntry.queries` query over the seeded
  * driver tables ([[DriverData]]), run once each in one session after an
  * untimed warm-up query. A step is one query, timed while its result
  * is written as parquet to `<work>/check<op>/<query>`; the operation
  * is the sum over all queries. Caches are released between queries
  * outside the timer.
  *
  * Check: after the JVM has exited, `perfbench/run.py` runs the
  * repository's `tools/compare_oracle.py` over every `check<op>`
  * directory, which compares each result with the query's DuckDB oracle
  * (`SparkEntry.oracleSql`) over the same tables. */
final class DriverSuite(spark: SparkSession, seed: Long) extends Workload {
  private val names = SparkEntry.queries.keys.toSeq.sorted

  def stepsPerOp: Int = names.size
  def layers: Seq[String] = Seq("q", "textops", "simsearch", "relational", "kg")

  private var dir: String = _
  private var work: String = _
  private var check: String = _
  private var opNo = 0

  def setup(dir: String): Unit = {
    DriverData.write(spark, seed, dir)
    this.dir = dir
  }

  def prepare(work: String): Unit = {
    this.work = work
    SparkEntry.queries(DriverSuite.WarmupQuery)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    release()
    Fs.writeString(s"$work/tables_dir", dir)
  }

  /** A fresh results directory for the next operation, holding the
    * oracle SQL, with the generator's golden triples (which the
    * kg_triples oracle reads) beside it, as `graft.Verify` lays them
    * out. */
  private def freshCheck(): Unit = {
    opNo += 1
    check = s"$work/check$opNo"
    graft.corpus.CorpusGen.goldenTriples(spark, 0.0002).coalesce(1)
      .write.parquet(s"${check}_golden/kg_triples")
    val abs = java.nio.file.Paths.get(check).toAbsolutePath.toString
    Fs.writeString(s"$check/oracle_sql.json", Json.obj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> Json.str(v.replace("__GRAFT_OUTDIR__", abs)) }))
  }

  private def release(): Unit = { Caches.release(); spark.catalog.clearCache() }

  /** Runs one query; `wrap` encloses the timed part. Returns its
    * seconds, or None when it threw. */
  private def query(n: String, wrap: (=> Unit) => Unit): Option[Double] =
    try {
      val t0 = System.nanoTime()
      wrap(SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
        .parquet(s"$check/$n"))
      val secs = (System.nanoTime() - t0) / 1e9
      release()
      Some(secs)
    } catch {
      case e: Exception =>
        System.err.println(s"perfbench: query $n failed: $e")
        release()
        None
    }

  /** The operation's outputs are the queries it completed. */
  private def opOf(rs: Seq[(String, Option[Double])]): Op = {
    val done = rs.collect { case (n, Some(s)) => n -> s }
    Op(done, names.size, names.size - done.size, done.size.toLong)
  }

  def op(): Op = {
    freshCheck()
    opOf(names.map(n => n -> query(n, run => run)))
  }

  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op = {
    freshCheck()
    var ids = Seq.empty[(String, Int)]
    val op = t.span(trace, -1, "driver_suite") { root =>
      opOf(names.map { n =>
        n -> query(n, run => t.span(trace, root.id, s"q.$n") { s => ids :+= (n -> s.id); run })
      })
    }
    val walls = ids.map { case (n, id) => n -> t.get(id).wallS }
    walls.foreach { case (n, w) => rec.add(s"q.${n}_s", w) }
    ids.filter(p => DriverSuite.ShuffleQueries.contains(p._1)).foreach { case (n, id) =>
      rec.add(s"q.${n}_shuffle_mb", t.counters(id).shuffleWriteMb)
    }
    def module(n: String) =
      if (n.startsWith("d")) "textops" else if (n.startsWith("e")) "simsearch"
      else if (n.startsWith("kg")) "kg" else "relational"
    walls.groupBy(p => module(p._1)).foreach { case (m, ws) =>
      rec.add(s"$m.wall_s", ws.map(_._2).sum)
    }
    op
  }
}

object DriverSuite {
  val WarmupQuery = "q1_agg"

  /** Queries whose shuffle volume the traced run reports (the
    * similarity-join families). */
  val ShuffleQueries: Set[String] = Set("d6_lsh_pairs", "d7_jaccard_verify",
    "d11_simhash_neardup", "d12_ngram_jaccard", "d14_jaccard_both",
    "e2_lsh_topk", "e4_lsh_neardup")
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (launched by `perfbench/run.py`).
  *
  * Usage: Main --workload <name> --seed <n> --trace <0|1> --work <dir>
  *             --cores <n>
  *
  * Writes `<work>/result.json`: `attempted`/`failed` step counts, the
  * named metric values, and the layers the run exercised. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    graft.pipeline.Fs.mkdirs(work)

    val t0 = System.nanoTime()
    val spark = session(workload, work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "kg_flow" => new Chain(Seq(new KgBatch(spark, seed, cores),
        new KgStream(spark, seed), new AlRound(spark, seed, cores)))
      case "driver_suite" => new DriverSuite(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = try Harness.run(spark, w, work, trace)
    finally spark.stop()
    val metrics = r.metrics ++ (if (trace) Seq("session.start_s" -> sessionS) else Nil)
    val json = Json.obj(Seq(
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "layers" -> (r.layers :+ "session").map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/result.json"), json)
  }

  /** The benchmark's Spark session: `local[cores]`, `cores` shuffle
    * partitions, scratch space under `work`. */
  def session(name: String, work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Minimal JSON writing (the benchmark emits flat objects only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

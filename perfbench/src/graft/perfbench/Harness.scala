package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation's outcome. `steps` holds (step key, seconds) for every
  * step that ran and passed its check; `failed` counts the steps that
  * threw or failed a check — their time is never reported. `outputs`
  * counts what the operation committed (triples, questions, rows). */
final case class Op(steps: Seq[(String, Double)], attempted: Int,
    failed: Int, outputs: Long) {
  def ok: Boolean = failed == 0 && steps.nonEmpty
  def runS: Double = steps.map(_._2).sum
}

/** A benchmark workload. Inputs are generated from the seed in
  * [[setup]]; [[prepare]] computes the reference outputs the checks
  * compare against (untimed); [[op]] runs one timed operation and checks
  * its outputs outside the timer; [[tracedOp]] runs the same operation
  * as separate calls into each layer, inside spans, and records the
  * layer metrics into `rec`. */
trait Workload {
  /** Steps one operation attempts (for counting a thrown operation). */
  def stepsPerOp: Int
  /** Layer prefixes whose per-layer metrics this workload reports. */
  def layers: Seq[String]
  def setup(dir: String): Unit
  def prepare(work: String): Unit
  def op(): Op
  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op
}

/** Several workloads run as one, in one JVM: their set-ups,
  * preparations and operations one after another. An operation's steps
  * are the parts' steps in order; its outputs are their sum. */
final class Chain(parts: Seq[Workload]) extends Workload {
  def stepsPerOp: Int = parts.map(_.stepsPerOp).sum
  def layers: Seq[String] = parts.flatMap(_.layers)
  def setup(dir: String): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.setup(s"$dir/part$i") }
  def prepare(work: String): Unit =
    parts.zipWithIndex.foreach { case (w, i) => w.prepare(s"$work/part$i") }
  private def joined(ops: Seq[Op]): Op = Op(ops.flatMap(_.steps),
    ops.map(_.attempted).sum, ops.map(_.failed).sum, ops.map(_.outputs).sum)
  def op(): Op = joined(parts.map(_.op()))
  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op =
    joined(parts.map(_.tracedOp(t, trace, rec)))
}

/** Per-layer samples of the traced operations; each metric reports the
  * median of its samples. */
final class LayerRecorder {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def medians: Seq[(String, Double)] =
    samples.toSeq.map { case (k, vs) => k -> Stats.median(vs.toSeq) }
}

final case class RunResult(attempted: Int, failed: Int,
    metrics: Seq[(String, Double)], layers: Seq[String])

object Harness {
  val SetupRepeats = 3

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  /** Runs one operation. A thrown operation counts every step as
    * failed. */
  private def attempt(w: Workload)(f: => Op): Op = {
    val op = try f catch {
      case e: Exception =>
        log(s"operation failed: $e")
        e.printStackTrace()
        Op(Nil, w.stepsPerOp, w.stepsPerOp, 0L)
    }
    log(s"op ${op.steps.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")}")
    op
  }

  /** One run: three set-ups (one when traced), the preparation, then one
    * operation, traced or not. Every operation is the JVM's first, as a
    * user's is. */
  def run(spark: SparkSession, w: Workload, work: String, trace: Boolean): RunResult = {
    // a traced run reports no set-up time, so it sets up once
    val setupS = (0 until (if (trace) 1 else SetupRepeats)).map { i =>
      val dir = s"$work/setup-$i"
      graft.pipeline.Fs.deleteRecursive(dir)
      timed(w.setup(dir))
    }
    log(s"setup ${setupS.mkString(" ")}")
    log(f"prepare ${timed(w.prepare(work))}%.2f s")
    if (!trace) {
      val op = attempt(w)(w.op())
      val metrics =
        if (!op.ok) Seq("setup_s" -> Stats.median(setupS))
        else Seq(
          "run_s" -> op.runS,
          "setup_s" -> Stats.median(setupS),
          "outputs_per_s" -> op.outputs / op.runS,
          "step_geomean_s" -> Stats.geomean(op.steps.map(_._2)),
          "peak_rss_mb" -> peakRssMb())
      RunResult(op.attempted, op.failed, metrics, Nil)
    } else {
      val tracer = new Tracer(spark.sparkContext)
      val rec = new LayerRecorder
      val op = attempt(w)(w.tracedOp(tracer, 1, rec))
      tracer.writeJson(s"$work/spans.json")
      tracer.stop()
      RunResult(op.attempted, op.failed,
        rec.medians :+ ("trace.run_s" -> (if (op.ok) op.runS else Double.NaN)),
        w.layers :+ "trace")
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

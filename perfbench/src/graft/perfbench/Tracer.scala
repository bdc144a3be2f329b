package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Listener counters of the jobs submitted inside one span. */
final case class Counters(
    jobs: Int, tasks: Long, taskS: Double, schedDelayS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double)

/** One traced call: name, start/end (epoch ms), the op it belongs to
  * (`trace`), the span that caused it, and counts recorded at the
  * boundary. */
final case class Span(id: Int, trace: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, attrs: mutable.LinkedHashMap[String, Double]) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** The traced run's recorder: a `SparkListener` that keeps per-stage
  * task aggregates and job submission times, plus the spans the
  * benchmark opens around its calls into each layer. A job belongs to
  * the span whose [start, end] holds its submission time, so counters
  * stay right when the listener bus delivers events late. Everything
  * stays in memory until [[writeJson]]. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private final case class Job(submitMs: Long, stages: Seq[Int])
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.time, e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1; a.runMs += m.executorRunTime; a.schedMs += sched
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def stop(): Unit = sc.removeSparkListener(this)

  /** Runs `f` inside a span; nested calls pass the enclosing span's id
    * as `parent` (-1 for an op's root span). */
  def span[T](trace: Int, parent: Int, name: String)(f: Span => T): T = {
    val s = Span(spans.size, trace, parent, name, System.currentTimeMillis(),
      0L, mutable.LinkedHashMap.empty)
    spans += s
    val r = f(s)
    spans(s.id) = s.copy(endMs = System.currentTimeMillis())
    r
  }

  def get(id: Int): Span = spans(id)

  /** Listener counters of the jobs submitted inside span `id`. */
  def counters(id: Int): Counters = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    val s = spans(id)
    val inSpan = jobs.asScala.filter(j => j.submitMs >= s.startMs &&
      j.submitMs <= s.endMs).toSeq
    val aggs = inSpan.flatMap(_.stages).distinct.flatMap(st =>
      Option(stages.get(st)))
    val mb = 1024.0 * 1024.0
    Counters(inSpan.size, aggs.map(_.tasks).sum, aggs.map(_.runMs).sum / 1e3,
      aggs.map(_.schedMs).sum / 1e3, aggs.map(_.shuffleRead).sum / mb,
      aggs.map(_.shuffleWrite).sum / mb, aggs.map(_.spill).sum / mb)
  }

  /** Writes every span (with its listener counters and self time) as
    * one JSON document. */
  def writeJson(path: String): Unit = {
    val json = spans.map { s =>
      val c = counters(s.id)
      val children = spans.filter(_.parent == s.id).map(_.wallS).sum
      val fields = Seq(
        "id" -> s.id.toString, "trace" -> s.trace.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "self_s" -> Json.num(math.max(0.0, s.wallS - children)),
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "task_s" -> Json.num(c.taskS), "sched_delay_s" -> Json.num(c.schedDelayS),
        "shuffle_read_mb" -> Json.num(c.shuffleReadMb),
        "shuffle_write_mb" -> Json.num(c.shuffleWriteMb),
        "spill_mb" -> Json.num(c.spillMb),
        "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }))
      Json.obj(fields)
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}

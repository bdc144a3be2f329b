package graft.perfbench

import org.apache.spark.ml.classification.LinearSVCModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ml.{ActiveLearning, RelationClassifier}
import graft.pipeline.Caches

/** The label part of `kg_flow`: the annotator's wait. Set-up writes `Labeled` labeled and
  * `Unlabeled` unlabeled synthetic evidences (the shape of
  * `Bench.alEvidence`: positives read "<name> was born in <year>",
  * negatives "<name> never visited friends in <year>"), with evidence
  * numbers offset by the seed, as parquet. One operation is one
  * `ActiveLearning.process` round with `HighPrecisionTradeoff` over a
  * scan of those tables, timed until its questions are collected.
  *
  * A round takes about 26 s warm on a 4-core machine, nearly all of it
  * the latency of the ~3,900 jobs of the threshold CV and the fits.
  *
  * Check (untimed): a threshold was estimated; the round asks
  * min(10 x labeled, unlabeled) distinct unlabeled evidences, sorted by
  * |margin| ascending; and the decision `margin >= threshold` matches
  * the generator's label on every question (the evidences are linearly
  * separable). */
final class AlRound(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import spark.implicits._
  import AlRound.{Labeled, Unlabeled}

  def stepsPerOp: Int = 1
  def layers: Seq[String] = Seq("ml")

  private var dir: String = _
  private val first = seed * (Labeled + Unlabeled)

  def setup(dir: String): Unit = {
    val labeled = spark.range(first, first + Labeled)
      .map(i => (graft.Bench.alEvidence(i, i % 2 == 0), i % 2 == 0))
      .toDF("e", "label").select($"e.*", $"label")
    labeled.write.parquet(s"$dir/labeled")
    spark.range(first + Labeled, first + Labeled + Unlabeled)
      .map(i => graft.Bench.alEvidence(i, i % 2 == 0)).toDF()
      .write.parquet(s"$dir/unlabeled")
    this.dir = dir
  }

  def prepare(work: String): Unit = ()

  private def labeled: DataFrame = spark.read.parquet(s"$dir/labeled")
  private def unlabeled: DataFrame = spark.read.parquet(s"$dir/unlabeled")

  private def questionsOf(q: DataFrame): Array[Row] =
    q.select($"evidence_id", $"margin", $"uncertainty").collect()

  /** The check above; returns the question count, or -1. */
  private def check(threshold: Option[Double], qs: Array[Row]): Long = {
    val expected = math.min(10L * Labeled, Unlabeled)
    val ids = qs.map(_.getString(0))
    val u = qs.map(_.getDouble(2))
    val t = threshold.getOrElse(Double.NaN)
    // evidence number i is positive iff i is even (the generator's rule)
    val wrong = qs.count { r =>
      val i = r.getString(0).stripPrefix("ev").toLong
      (r.getDouble(1) >= t) != (i % 2 == 0)
    }
    val ok = !t.isNaN && !t.isInfinite && qs.length == expected &&
      ids.distinct.length == ids.length &&
      ids.forall(id => id.stripPrefix("ev").toLong >= first + Labeled) &&
      u.indices.drop(1).forall(k => u(k - 1) <= u(k)) && wrong == 0
    if (ok) qs.length.toLong
    else {
      System.err.println(s"perfbench: round threshold=$threshold " +
        s"questions=${qs.length}/$expected misclassified=$wrong")
      -1L
    }
  }

  private def result(secs: Double, threshold: Option[Double], qs: Array[Row]): Op = {
    val n = check(threshold, qs)
    if (n < 0) Op(Nil, 1, 1, 0L) else Op(Seq("round" -> secs), 1, 0, n)
  }

  def op(): Op = {
    val t0 = System.nanoTime()
    val (state, q) = ActiveLearning.process(spark, labeled, unlabeled,
      tradeoff = Some(ActiveLearning.HighPrecisionTradeoff))
    val qs = questionsOf(q)
    val secs = (System.nanoTime() - t0) / 1e9
    Caches.release()
    result(secs, state.threshold, qs)
  }

  /** The round's three calls, one span each and one after another (the
    * untraced round overlaps the CV with the final fit, which would
    * leave their jobs in one another's spans). The rank span samples
    * the unlabeled set as `process` does. */
  def tracedOp(t: Tracer, trace: Int, rec: LayerRecorder): Op = {
    val (root, threshold, model, qs) = t.span(trace, -1, "round") { root =>
      val (lab, unl) = (labeled, unlabeled)
      val threshold = t.span(trace, root.id, "cv") { _ =>
        ActiveLearning.estimateThreshold(spark, lab, ActiveLearning.HighPrecisionTradeoff)
      }
      val model = t.span(trace, root.id, "fit") { _ => RelationClassifier.fit(lab) }
      val qs = t.span(trace, root.id, "rank") { _ =>
        val (nl, nu) = (lab.count(), unl.count())
        val n = math.min(10L * nl, nu)
        val frac = math.min(1.0, (n + 4 * math.sqrt(n.toDouble) + 10) / nu)
        val sample = if (n >= nu) unl else unl.sample(false, frac, 42L).limit(n.toInt)
        questionsOf(model.transform(sample)
          .withColumn("uncertainty", abs($"margin"))
          .orderBy($"uncertainty".asc, $"evidence_id".asc))
      }
      (root, threshold, model, qs)
    }
    Caches.release()
    val (cv, fit, rank) = (root.id + 1, root.id + 2, root.id + 3)
    val (cvC, fitC, allC) = (t.counters(cv), t.counters(fit), t.counters(root.id))
    val wall = t.get(root.id).wallS
    rec.add("ml.cv_s", t.get(cv).wallS)
    rec.add("ml.fit_s", t.get(fit).wallS)
    rec.add("ml.rank_s", t.get(rank).wallS)
    rec.add("ml.cv_jobs", cvC.jobs)
    rec.add("ml.fit_jobs", fitC.jobs)
    rec.add("ml.fit_tasks", fitC.tasks.toDouble)
    rec.add("ml.core_util", allC.taskS / (wall * cores))
    val finalSvc = model.finalStage match {
      case RelationClassifier.MlStage(m: LinearSVCModel, _) => m.summary.totalIterations
      case _ => 0
    }
    rec.add("ml.svc_iterations", (model.innerSvc.summary.totalIterations + finalSvc).toDouble)
    result(wall, threshold, qs)
  }
}

object AlRound {
  val Labeled = 200L
  val Unlabeled = 2400L
}

package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Active-learning core (C3-C9): IEPy's interactive certainty-sampling
  * loop recast as iterative BATCH scoring over checkpointed candidate
  * Datasets (north star; reference
  * `/root/reference/iepy/extraction/active_learning_core.py`).
  *
  * Differences from the reference are representational only:
  *  - labeled/unlabeled evidence are DataFrames keyed by `evidence_id`
  *  - each round is a batch job; answers arrive as a DataFrame union
  *  - the classifier is [[RelationClassifier]] (Spark ML)
  *  - per-round state (labels, threshold) round-trips through parquet
  *    checkpoints so the loop resumes mid-round (S7 equivalence)
  */
object ActiveLearning {

  val HighPrecisionTradeoff: (Double, Double) = (10.0, 1.0) // HIPREC
  val HighRecallTradeoff: (Double, Double) = (1.0, 2.0) // HIREC

  final case class State(
      model: Option[RelationClassifier.Model],
      threshold: Option[Double],
      aimedTradeoff: Option[(Double, Double)])

  /** One `process()` round (reference `:119-139`): estimate threshold
    * (when a tradeoff is given), train, rank a bounded random sample,
    * sort questions by |margin| ascending.
    *
    * @param labeled   evidence DF with boolean `label`
    * @param unlabeled candidate evidence DF
    * @return (state, questions DF ordered most-valuable-first)
    */
  def process(
      spark: SparkSession,
      labeled: DataFrame,
      unlabeled: DataFrame,
      tradeoff: Option[(Double, Double)] = None,
      classifier: String = "svc",
      seed: Long = 42L): (State, DataFrame) = {
    val stats = labeled
      .agg(countDistinct(col("label")), count(lit(1))).head()
    val classes = stats.getLong(0)
    val nLabeled = stats.getLong(1)
    if (classes < 2)
      return (State(None, None, None), unlabeled.limit(0))

    // threshold CV and the final fit are independent — run them
    // concurrently (Spark schedules jobs from multiple driver threads
    // freely): one call's few Spark jobs and driver-side LinearSVC
    // optimizer steps overlap the other's
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val thresholdF = Future {
      tradeoff.flatMap { t =>
        estimateThreshold(spark, labeled, t, classifier, seed)
      }
    }
    val model = RelationClassifier.fit(labeled, classifier)
    val threshold = Await.result(thresholdF, Duration.Inf)

    // rank a random sample of min(10*|labeled|, |unlabeled|)  (:215-227).
    // Seeded Bernoulli sample() + limit, NOT orderBy(rand).limit: the
    // latter plans as TakeOrdered with an n-element heap per task and a
    // driver-side merge — n = 10*|labeled| reaches millions late in a
    // labeling campaign. sample() is a narrow per-partition coin flip;
    // the fraction carries a +4*sigma cushion so limit(n) trims overshoot
    // and an undershoot below n is vanishingly rare (and harmless: the
    // reference only needs SOME random bounded subset to rank).
    val nUnlabeled = unlabeled.count()
    // n stays Long end-to-end: 10 * |labeled| can exceed Int.MaxValue
    // late in a campaign, and a .toInt wrap would turn the fraction
    // negative and make sample() throw. limit() only applies when n is
    // Int-expressible; beyond that the Bernoulli sample IS the bound
    // (the reference only needs SOME random bounded subset to rank).
    val n: Long = math.min(10L * nLabeled, nUnlabeled)
    val sample =
      if (n >= nUnlabeled) unlabeled
      else {
        val frac = math.min(1.0,
          (n + 4 * math.sqrt(n.toDouble) + 10) / nUnlabeled)
        val sampled = unlabeled.sample(withReplacement = false, frac, seed)
        if (n <= Int.MaxValue) sampled.limit(n.toInt) else sampled
      }
    val questions = model.transform(sample)
      .withColumn("uncertainty", abs(col("margin")))
      .orderBy(col("uncertainty").asc, col("evidence_id").asc)
    (State(Some(model), threshold, None), questions)
  }

  /** C8 predict: known labels pass through verbatim; the rest get
    * `margin >= threshold` (or the classifier's sign when no threshold)
    * (reference `:141-163`). */
  def predict(
      state: State,
      candidates: DataFrame,
      labeled: DataFrame): DataFrame = {
    val model = state.model.getOrElse(
      throw new IllegalStateException("No trained classifier"))
    val knowns = labeled.select(col("evidence_id"),
      col("label").as("known_label"))
    val scored = model.transform(candidates)
    val decided = state.threshold match {
      case Some(t) => col("margin") >= t
      case None => col("prediction")
    }
    scored.join(knowns, Seq("evidence_id"), "left")
      .withColumn("label", coalesce(col("known_label"), decided))
      .drop("known_label")
  }

  /** C7/C10 threshold estimation: stratified 5-fold CV -> pooled
    * (score, y) -> PR curve -> maximize c_p*prec + c_rec*rec with the
    * prec[last] = 0 guard (reference `:165-179,235-262`). Needs >= 5
    * examples per class else None. */
  def estimateThreshold(
      spark: SparkSession,
      labeled: DataFrame,
      tradeoff: (Double, Double),
      classifier: String = "svc",
      seed: Long = 42L): Option[Double] = {
    val perClass = labeled.groupBy(col("label")).count()
      .collect().map(r => r.getLong(1))
    if (perClass.length < 2 || perClass.min < 5) return None

    // stratified folds: row_number per class (deterministic order) mod 5
    // persisted POST-featurization: the (pure Catalyst but wide) feature
    // pass is computed once here instead of once per fold fit/transform
    // (2x5+... plans) — measured ~2x on the AL round. Right-size the
    // partitioning like RelationClassifier.fit does: the labeled set is
    // annotation-bounded, and leaving it on the session's default 32
    // shuffle partitions makes every one of the CV's many tiny jobs pay
    // 32 task launches for a handful of rows each.
    val w = Window.partitionBy(col("label")).orderBy(col("evidence_id"))
    // eager local checkpoint, not persist + count: the five fold fits
    // and scorings issue ~80 actions over this table, and each action
    // re-analyzes the logical plan — a persist leaves the 13-column
    // feature expression tree in every downstream plan (cache
    // substitution happens at physical planning), while the checkpoint
    // truncates it to a leaf. Labeled-set-sized by contract; freed once
    // the pooled margins are collected.
    val folded = graft.features.Features.withDefaultFeatures(labeled)
      .withColumn("fold", (row_number().over(w) - 1) % 5)
      .coalesce(RelationClassifier.trainPartitions(perClass.sum))
    val pooled = graft.pipeline.Caches.scoped { scope =>
      val folds = scope.checkpoint(folded)
      // folds evaluated concurrently — Spark happily runs independent
      // actions from multiple threads, and each fold's fit is tiny
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(
        Future.sequence((0 until 5).map { k =>
          Future {
            val train = folds.filter(col("fold") =!= k)
            val test = folds.filter(col("fold") === k)
            val m = RelationClassifier.fit(train, classifier)
            m.transform(test).select(col("margin"), col("label").cast("int"))
              .collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq
          }
        }), Duration.Inf).flatten
    }
    prCurveThreshold(pooled, tradeoff)
  }

  /** sklearn-convention PR curve over pooled (score, y):
    * thresholds are the distinct scores descending; at threshold t,
    * predicted-positive = score >= t. Returns the threshold maximizing
    * c_p * precision + c_rec * recall (prec of the phony last point
    * forced to 0). Driver-side: the pooled set is human-labeled data,
    * bounded by annotation budget, never corpus-sized. */
  def prCurveThreshold(
      pooled: Seq[(Double, Int)],
      tradeoff: (Double, Double)): Option[Double] = {
    if (pooled.isEmpty) return None
    val sorted = pooled.sortBy(-_._1)
    val totalPos = sorted.count(_._2 == 1)
    if (totalPos == 0) return None
    // walk score-descending; emit one PR point per distinct score
    case class Pt(prec: Double, rec: Double, thres: Double)
    val pts = scala.collection.mutable.ArrayBuffer.empty[Pt]
    var tp = 0; var fp = 0; var i = 0
    while (i < sorted.length) {
      val s = sorted(i)._1
      while (i < sorted.length && sorted(i)._1 == s) {
        if (sorted(i)._2 == 1) tp += 1 else fp += 1
        i += 1
      }
      pts += Pt(tp.toDouble / (tp + fp), tp.toDouble / totalPos, s)
    }
    // sklearn appends a phony (prec=1, rec=0) last point with no
    // threshold; the reference zeroes its precision so it's never chosen
    // -> equivalent here to just maximizing over real points
    val (cp, cr) = tradeoff
    val best = pts.maxBy(p => cp * p.prec + cr * p.rec)
    Some(best.thres)
  }
}

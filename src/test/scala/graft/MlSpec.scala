package graft

import graft.ml.{ActiveLearning, RelationClassifier}
import graft.schema.Evidence
import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Classifier (C1/C2), threshold estimation (C7) and the active-learning
  * round (C3-C9) — behavior mirrored from
  * `/root/reference/iepy/extraction/active_learning_core.py` and
  * `relation_extraction_classifier.py`. */
class MlSpec extends SparkSpec {
  import MlSpec.{negEv, posEv}

  private def labeledDf(n: Int) = MlSpec.labeledDf(spark, n)

  // Measured on labeledDf(8): 16 jobs per fit and 89 per threshold CV;
  // Spark-trained LinearSVCs took 676 and 3,061.
  private val MaxFitJobs = 40
  private val MaxCvJobs = 200

  test("classifier fit/transform separates train data (C1/C2)") {
    val df = labeledDf(8)
    val model = RelationClassifier.fit(df, "svc")
    val out = model.transform(df).select("evidence_id", "prediction", "margin", "label")
    val rows = out.collect()
    val acc = rows.count(r => r.getBoolean(1) == r.getBoolean(3)).toDouble / rows.length
    assert(acc >= 0.9, s"train accuracy $acc")
  }

  test("logistic-regression variant trains too (north star)") {
    val df = labeledDf(6)
    val model = RelationClassifier.fit(df, "lr")
    assert(model.transform(df).columns.contains("margin"))
  }

  test("full classifier zoo trains + separates (C1: sgd/knn/svc/randomforest/adaboost)") {
    val df = labeledDf(8)
    RelationClassifier.validClassifiers.foreach { name =>
      val model = RelationClassifier.fit(df, name)
      val rows = model.transform(df)
        .select("prediction", "label").collect()
      val acc = rows.count(r => r.getBoolean(0) == r.getBoolean(1))
        .toDouble / rows.length
      assert(acc >= 0.9, s"$name train accuracy $acc")
    }
  }

  test("unknown classifier name fails fast with the valid set (C1 contract)") {
    val e = intercept[IllegalArgumentException] {
      RelationClassifier.fit(labeledDf(4), "perceptron")
    }
    assert(e.getMessage.contains("sgd") && e.getMessage.contains("adaboost"))
  }

  test("knn + randomforest save/load roundtrip") {
    val df = labeledDf(6)
    Seq("knn", "randomforest").foreach { name =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-clf-$name").toString + "/m"
      val model = RelationClassifier.fit(df, name)
      RelationClassifier.save(model, dir)
      val loaded = RelationClassifier.load(dir)
      val a = model.transform(df).select("evidence_id", "margin")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val b = loaded.transform(df).select("evidence_id", "margin")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      a.foreach { case (k, v) =>
        assert(math.abs(b(k) - v) < 1e-9, s"$name margin drift on $k") }
    }
  }

  test("fit requires both classes (active_learning_core.py:127-134)") {
    import org.apache.spark.sql.functions._
    val df = labeledDf(4).filter(col("label"))
    assertThrows[IllegalArgumentException] {
      RelationClassifier.fit(df)
    }
  }

  test("PR-curve threshold: HIPREC vs HIREC tradeoffs (C7)") {
    val pooled = Seq((0.9, 1), (0.8, 1), (0.7, 0), (0.6, 1), (0.5, 0))
    val hiprec = ActiveLearning.prCurveThreshold(
      pooled, ActiveLearning.HighPrecisionTradeoff)
    assert(hiprec.contains(0.8))
    val hirec = ActiveLearning.prCurveThreshold(
      pooled, ActiveLearning.HighRecallTradeoff)
    assert(hirec.contains(0.6))
  }

  test("threshold estimation needs >= 5 per class (C7/C10)") {
    assert(ActiveLearning.estimateThreshold(spark, labeledDf(4),
      ActiveLearning.HighPrecisionTradeoff).isEmpty)
    // the fit's and the CV's checkpointed tables are freed on return
    val persisted = spark.sparkContext.getPersistentRDDs.size
    RelationClassifier.fit(labeledDf(8))
    assert(ActiveLearning.estimateThreshold(spark, labeledDf(8),
      ActiveLearning.HighPrecisionTradeoff).isDefined)
    assert(spark.sparkContext.getPersistentRDDs.size <= persisted)
  }

  test("fit and threshold CV schedule a bounded number of Spark jobs") {
    // The LinearSVC optimizers run in the driver: a fit is a dozen-odd
    // jobs (stats, checkpoints, vocabularies, scaler, training-row
    // collects) and the CV five fits plus their scorings. Spark's own
    // LinearSVC schedules one job per loss evaluation, so a change that
    // puts an optimizer step back on Spark fails this by far.
    val df = labeledDf(8)
    val (_, fitJobs) = JobCounter.count(spark.sparkContext) {
      RelationClassifier.fit(df)
    }
    val (_, cvJobs) = JobCounter.count(spark.sparkContext) {
      ActiveLearning.estimateThreshold(spark, df,
        ActiveLearning.HighPrecisionTradeoff)
    }
    info(s"fit: $fitJobs jobs, threshold CV: $cvJobs jobs")
    assert(fitJobs <= MaxFitJobs, s"fit ran $fitJobs jobs")
    assert(cvJobs <= MaxCvJobs, s"threshold CV ran $cvJobs jobs")
  }

  test("process round: questions sorted by |margin| (C5/C6)") {
    import spark.implicits._
    val labeled = labeledDf(6)
    val unlabeled = (6 until 12).flatMap(i => Seq(posEv(i), negEv(i))).toDF()
    val (state, questions) = ActiveLearning.process(spark, labeled, unlabeled)
    assert(state.model.isDefined)
    val uncs = questions.select("uncertainty").collect().map(_.getDouble(0))
    assert(uncs.sameElements(uncs.sorted))
    assert(uncs.length == unlabeled.count()) // 10x|labeled| > |unlabeled|
  }

  test("predict: known labels pass through verbatim (C8)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val labeled = labeledDf(6)
    // flip one known label adversarially: passthrough must win
    val flipped = labeled.withColumn("label",
      when(col("evidence_id") === labeled.select("evidence_id").head.getString(0),
        !col("label")).otherwise(col("label")))
    val (state, _) = ActiveLearning.process(spark, labeled, labeledDf(2))
    val out = ActiveLearning.predict(state, labeled, flipped)
      .select("evidence_id", "label")
    val flippedId = labeled.select("evidence_id").head.getString(0)
    val known = flipped.filter(col("evidence_id") === flippedId)
      .select("label").head.getBoolean(0)
    assert(out.filter(col("evidence_id") === flippedId)
      .head.getBoolean(1) == known)
  }

  test("classifier save/load roundtrip refuses overwrite (S7)") {
    val dir = java.nio.file.Files.createTempDirectory("clf").toString + "/m"
    val df = labeledDf(6)
    val model = RelationClassifier.fit(df)
    RelationClassifier.save(model, dir)
    assertThrows[IllegalStateException] {
      RelationClassifier.save(model, dir)
    }
    val loaded = RelationClassifier.load(dir)
    val a = model.transform(df).select("evidence_id", "margin").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val b = loaded.transform(df).select("evidence_id", "margin").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(a.keys == b.keys)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9) }
  }

  test("load rejects a bundle naming an unknown or no classifier (C1 contract)") {
    val dir = java.nio.file.Files.createTempDirectory("clf").toString + "/m"
    RelationClassifier.save(RelationClassifier.fit(labeledDf(4)), dir)
    graft.pipeline.Fs.writeString(s"$dir/meta.json",
      """{"classifier":"perceptron"}""")
    val e = intercept[IllegalArgumentException] {
      RelationClassifier.load(dir)
    }
    assert(e.getMessage.contains("perceptron") &&
      e.getMessage.contains("adaboost"))
    graft.pipeline.Fs.writeString(s"$dir/meta.json", "{}")
    assertThrows[IllegalArgumentException] {
      RelationClassifier.load(dir)
    }
  }
}

/** Labeled evidences: "<name> was born in <year>" positives and
  * "<name> never visited friends in <year>" negatives. */
object MlSpec {
  private val people = Seq("John", "Mary", "Carl", "Anna", "Peter", "Rosa",
    "Tim", "Vera", "Hugo", "Lena", "Omar", "Ruth")

  def posEv(i: Int): Evidence = MarkupDsl.evidence(
    s"{${people(i)}|person**} was born in {1${900 + i}|date*} in town")
  def negEv(i: Int): Evidence = MarkupDsl.evidence(
    s"{${people(i)}|person**} never visited friends in {1${900 + i}|date*} sadly")

  /** n positives then n negatives, with a boolean `label`. */
  def labeledDf(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map(i => (posEv(i), true)) ++
      (0 until n).map(i => (negEv(i), false))
    rows.map { case (e, l) => (e, l) }.toDF("e", "label")
      .select(org.apache.spark.sql.functions.col("e.*"),
        org.apache.spark.sql.functions.col("label"))
  }
}

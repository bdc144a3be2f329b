package graft

import org.apache.spark.ml.classification.{DriverLinearSVC, LinearSVC, LinearSVCModel}
import org.apache.spark.ml.feature.{CountVectorizer, VectorAssembler}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** [[DriverLinearSVC]] against Spark's `LinearSVC.fit` on one-partition
  * inputs: coefficients, intercept and objective history must agree bit
  * for bit, under both settings `RelationClassifier` uses. */
class DriverLinearSVCSpec extends SparkSpec {

  private case class Setting(name: String, regParam: Double, tol: Double,
      standardization: Boolean, maxIter: Int)

  private val settings = Seq(
    Setting("svc", 0.01, 1e-3, standardization = true, maxIter = 50),
    Setting("svc", 0.01, 1e-3, standardization = true, maxIter = 100),
    Setting("sgd", 1e-4, 1e-3, standardization = false, maxIter = 100))

  private def configure[E <: LinearSVC](e: E, s: Setting): E = {
    e.setFeaturesCol("features").setLabelCol("y")
      .setRegParam(s.regParam).setTol(s.tol)
      .setStandardization(s.standardization).setMaxIter(s.maxIter)
    e
  }

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** Fits both trainers on `df` (one partition) and compares them. */
  private def assertIdentical(df: DataFrame, s: Setting, input: String): LinearSVCModel = {
    val one = df.coalesce(1)
    val reference = configure(new LinearSVC(), s).fit(one)
    val driver = configure(new DriverLinearSVC(), s).fit(one)
    val what = s"$input / ${s.name} maxIter=${s.maxIter}"
    assert(bits(driver.coefficients.toArray) == bits(reference.coefficients.toArray),
      s"$what: coefficients differ")
    assert(java.lang.Double.doubleToRawLongBits(driver.intercept) ==
      java.lang.Double.doubleToRawLongBits(reference.intercept), s"$what: intercept differs")
    assert(bits(driver.summary.objectiveHistory) == bits(reference.summary.objectiveHistory),
      s"$what: objective history differs")
    driver
  }

  private def table(rows: Seq[(Double, Vector)]): DataFrame =
    spark.createDataFrame(rows).toDF("y", "features")

  /** The inner SVC's input: `MlSpec.labeledDf`'s four binary bag vectors. */
  private def bagFeatures: DataFrame = {
    var df = graft.features.Features.withDefaultFeatures(MlSpec.labeledDf(spark, 8))
      .withColumn("y", col("label").cast("double"))
    graft.ml.RelationClassifier.bagCols.foreach { c =>
      df = new CountVectorizer().setInputCol(c).setOutputCol(c + "_vec")
        .setBinary(true).fit(df).transform(df)
    }
    new VectorAssembler()
      .setInputCols(graft.ml.RelationClassifier.bagCols.map(_ + "_vec").toArray)
      .setOutputCol("features").transform(df).select("y", "features")
  }

  /** The final stage's kind of input: `labeledDf`'s dense numeric features. */
  private def denseFeatures: DataFrame = {
    val df = graft.features.Features.withDefaultFeatures(MlSpec.labeledDf(spark, 8))
      .withColumn("y", col("label").cast("double"))
    new VectorAssembler()
      .setInputCols(graft.ml.RelationClassifier.denseCols.toArray)
      .setOutputCol("features").transform(df).select("y", "features")
  }

  private val rng = new scala.util.Random(7)
  private def noisy(label: Double, n: Int): Vector =
    Vectors.dense(Array.tabulate(n)(j => (if (j == 0) 2 * label - 1 else 0.0) + rng.nextGaussian()))

  /** Third column constant: zero variance, so its coefficient is 0. */
  private def zeroVariance: DataFrame = table((0 until 40).map { i =>
    val y = (i % 2).toDouble
    (y, Vectors.dense(noisy(y, 2).toArray :+ 3.0))
  })

  /** Sparse rows, one of them all zeros. */
  private def zeroRow: DataFrame = table((0 until 30).map { i =>
    val y = (i % 2).toDouble
    val v = if (i == 5) Vectors.sparse(6, Array.empty[Int], Array.empty[Double])
      else Vectors.sparse(6, Array(i % 3, 3 + (i % 2)), Array(1.0, 1.0 + i % 4))
    (y, v)
  })

  /** Every row twice, the copies adjacent. */
  private def duplicates: DataFrame = table((0 until 20).flatMap { i =>
    val y = (i % 2).toDouble
    val r = (y, noisy(y, 4))
    Seq(r, r)
  })

  /** One positive for every nine negatives. */
  private def imbalanced: DataFrame = table((0 until 100).map { i =>
    val y = if (i % 10 == 0) 1.0 else 0.0
    (y, noisy(y, 5))
  })

  test("driver-trained LinearSVC equals LinearSVC.fit bit for bit") {
    val inputs = Seq("bag features" -> bagFeatures, "dense features" -> denseFeatures,
      "zero-variance column" -> zeroVariance, "all-zero sparse row" -> zeroRow,
      "duplicate rows" -> duplicates, "1:9 imbalance" -> imbalanced)
    for ((name, df) <- inputs; s <- settings) assertIdentical(df, s, name)
  }

  test("a fit stopped by maxIter is bit-identical too") {
    val capped = Setting("svc", 0.01, 1e-3, standardization = true, maxIter = 3)
    val m = assertIdentical(bagFeatures, capped, "bag features")
    assert(m.summary.totalIterations == capped.maxIter)
    val free = configure(new DriverLinearSVC(), settings.head).fit(bagFeatures.coalesce(1))
    assert(free.summary.totalIterations > capped.maxIter,
      "the uncapped fit must need more steps, or the cap did not bind")
  }

  test("the training summary outlives the input's freed checkpoint") {
    val m = graft.pipeline.Caches.scoped { scope =>
      configure(new DriverLinearSVC(), settings.head)
        .fit(scope.checkpoint(zeroVariance.coalesce(1)))
    }
    assert(m.summary.predictions.count() == 40)
    assert(m.summary.accuracy > 0.5)
  }
}

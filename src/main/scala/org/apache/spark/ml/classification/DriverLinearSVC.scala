package org.apache.spark.ml.classification

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, OWLQN => BreezeOWLQN}

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, Vector, VectorUDT, Vectors}
import org.apache.spark.ml.optim.aggregator.HingeBlockAggregator
import org.apache.spark.ml.optim.loss.L2Regularization
import org.apache.spark.ml.stat.{MultiClassSummarizer, Summarizer}
import org.apache.spark.ml.util.{DatasetUtils, Identifiable, MetadataUtils}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** A `LinearSVC` whose optimizer runs in the driver.
  *
  * `LinearSVC.train` evaluates the hinge loss with one `treeAggregate`
  * job per optimizer step. On an annotation-sized training set that job
  * latency is nearly all of a fit. This estimator collects the training
  * rows once (one job), then runs `LinearSVC.train`'s steps in the
  * driver: the same `Summarizer` statistics, standardization,
  * `InstanceBlock` blocks, `HingeBlockAggregator`, `L2Regularization` and
  * Breeze `OWLQN(maxIter, 10, 0, tol)` loop. Only the loss function
  * differs: it folds the aggregator over the local blocks in partition
  * order, merging into zero-valued aggregators as `treeAggregate` does.
  * On a one-partition input the coefficients, intercept and objective
  * history are bit-identical to `LinearSVC.fit`. With more partitions
  * Spark merges the partition results in task completion order; here
  * they merge in partition order.
  *
  * The whole training set is held in the driver, so the caller bounds
  * its size (`spark.driver.maxResultSize` fails an oversize collect).
  * The model's training summary is computed over a local copy of the
  * collected (label, features) rows, not over the input plan, so it
  * stays valid after the caller releases the input's blocks.
  *
  * Lives in `org.apache.spark.ml.classification` only for access to the
  * `private[ml]` pieces above; no Spark code is modified. */
class DriverLinearSVC(id: String) extends LinearSVC(id) {

  def this() = this(Identifiable.randomUID("linearsvc"))

  override protected def train(dataset: Dataset[_]): LinearSVCModel = {
    val parts: Array[Array[Instance]] = dataset.select(
        DatasetUtils.checkClassificationLabels($(labelCol), Some(2)),
        DatasetUtils.checkNonNegativeWeights(get(weightCol)),
        DatasetUtils.checkNonNanVectors($(featuresCol)))
      .rdd.map { case Row(label: Double, weight: Double, features: Vector) =>
        Instance(label, weight, features)
      }.glom().collect()

    val (summarizer, labelSummarizer) = DriverLinearSVC.aggregate(parts)(
      () => (Summarizer.createSummarizerBuffer("mean", "std", "count"),
        new MultiClassSummarizer))(
      (c, i) => (c._1.add(i.features, i.weight), c._2.add(i.label, i.weight)),
      (c1, c2) => (c1._1.merge(c2._1), c1._2.merge(c2._2)))
    // labels outside {0, 1} already failed the collect's label check
    val numFeatures = summarizer.mean.size
    val numClasses = MetadataUtils.getNumClasses(dataset.schema($(labelCol)))
      .getOrElse(labelSummarizer.histogram.length)
    require(numClasses == 2, "LinearSVC only supports binary classification. " +
      s"$numClasses classes detected in ${$(labelCol)}")

    val featuresStd = summarizer.std.toArray
    val featuresMean = summarizer.mean.toArray
    val regularization = if ($(regParam) != 0.0) {
      val shouldApply = (idx: Int) => idx >= 0 && idx < numFeatures
      Some(new L2Regularization($(regParam), shouldApply,
        if ($(standardization)) None else Some((j: Int) => featuresStd(j))))
    } else None
    val optimizer = new BreezeOWLQN[Int, BDV[Double]](
      $(maxIter), 10, (_: Int) => 0.0, $(tol))

    val (solution, objectiveHistory) =
      trainLocal(parts, featuresStd, featuresMean, regularization, optimizer)
    if (solution == null)
      throw new SparkException(s"${optimizer.getClass.getName} failed.")
    val coefficients = Array.tabulate(numFeatures) { i =>
      if (featuresStd(i) != 0.0) solution(i) / featuresStd(i) else 0.0
    }
    val intercept = if ($(fitIntercept)) solution.last else 0.0
    val model = copyValues(new LinearSVCModel(uid,
      Vectors.dense(coefficients).compressed, intercept))
    model.createSummary(trainingRows(dataset, parts), objectiveHistory)
    model
  }

  /** `LinearSVC.trainImpl` with the RDD loss function replaced by a local
    * fold over the same blocks. */
  private def trainLocal(
      parts: Array[Array[Instance]],
      featuresStd: Array[Double],
      featuresMean: Array[Double],
      regularization: Option[L2Regularization],
      optimizer: BreezeOWLQN[Int, BDV[Double]]): (Array[Double], Array[Double]) = {
    val numFeatures = featuresStd.length
    val numFeaturesPlusIntercept =
      if ($(fitIntercept)) numFeatures + 1 else numFeatures
    val inverseStd = featuresStd.map(std => if (std != 0) 1.0 / std else 0.0)
    val scaledMean = Array.tabulate(numFeatures)(i => inverseStd(i) * featuresMean(i))
    val scale = StandardScalerModel.getTransformFunc(
      Array.empty, inverseStd, false, true)
    val blockSizeInMB =
      if ($(maxBlockSizeInMB) == 0.0) InstanceBlock.DefaultBlockSizeInMB
      else $(maxBlockSizeInMB)
    val maxMemUsage = (blockSizeInMB * 1024L * 1024L).ceil.toLong
    val blocks = parts.map { p =>
      InstanceBlock.blokifyWithMaxMemUsage(
        p.iterator.map(i => Instance(i.label, i.weight, scale(i.features))),
        maxMemUsage).toArray
    }
    val bcInverseStd = new DriverLinearSVC.LocalValue(inverseStd)
    val bcScaledMean = new DriverLinearSVC.LocalValue(scaledMean)
    val fitWithIntercept = $(fitIntercept)

    val costFun = new DiffFunction[BDV[Double]] {
      def calculate(coefficients: BDV[Double]): (Double, BDV[Double]) = {
        val bcCoefficients = new DriverLinearSVC.LocalValue(Vectors.fromBreeze(coefficients))
        val agg = DriverLinearSVC.aggregate(blocks)(() =>
          new HingeBlockAggregator(bcInverseStd, bcScaledMean,
            fitWithIntercept)(bcCoefficients))(_.add(_), _.merge(_))
        val gradient = agg.gradient
        val regLoss = regularization.map { reg =>
          val (loss, regGradient) = reg.calculate(Vectors.fromBreeze(coefficients))
          BLAS.axpy(1.0, regGradient, gradient)
          loss
        }.getOrElse(0.0)
        (agg.loss + regLoss, gradient.asBreeze.toDenseVector)
      }
    }

    val initialSolution = Array.ofDim[Double](numFeaturesPlusIntercept)
    if ($(fitIntercept)) {
      val adapt = BLAS.javaBLAS.ddot(numFeatures, initialSolution, 1, scaledMean, 1)
      initialSolution(numFeatures) += adapt
    }
    val states = optimizer.iterations(new CachedDiffFunction(costFun),
      new BDV[Double](initialSolution))
    val history = Array.newBuilder[Double]
    var state: optimizer.State = null
    while (states.hasNext) {
      state = states.next()
      history += state.adjustedValue
    }
    val solution = if (state == null) null else state.x.toArray
    if ($(fitIntercept) && solution != null) {
      val adapt = BLAS.javaBLAS.ddot(numFeatures, solution, 1, scaledMean, 1)
      solution(numFeatures) -= adapt
    }
    (solution, history.result())
  }

  /** The collected (label, features) rows as a local table, for the
    * training summary. */
  private def trainingRows(dataset: Dataset[_], parts: Array[Array[Instance]]) = {
    val schema = StructType(Seq(
      StructField($(labelCol), DoubleType, nullable = false),
      StructField($(featuresCol), new VectorUDT, nullable = false)))
    val rows = parts.iterator.flatten.map(i => Row(i.label, i.features)).toSeq
    dataset.sparkSession.createDataFrame(rows.asJava, schema)
  }
}

object DriverLinearSVC {

  /** `RDD.treeAggregate` over one partition, replayed per partition in
    * partition order: each partition folds from a fresh zero, its result
    * is merged into a fresh zero (the task's `fold`), and that into the
    * running result (the driver's `fold`). */
  private def aggregate[T, U](parts: Array[Array[T]])(zero: () => U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U =
    parts.foldLeft(zero()) { (acc, p) =>
      combOp(acc, combOp(zero(), p.foldLeft(zero())(seqOp)))
    }

  /** A driver-local value behind the `Broadcast` interface the
    * aggregators read their coefficients and scaling through. */
  private final class LocalValue[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}

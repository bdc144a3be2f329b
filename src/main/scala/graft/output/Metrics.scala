package graft.output

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Caches

/** Evaluation operators (M1/M2).
  *
  * M1 `evaluate` — knowledge-level P/R/F1 over (subj, pred, obj) sets with
  * the reference's empty-denominator conventions
  * (`/root/reference/iepy/utils.py:62-89`: precision=1.0 when nothing
  * predicted, recall=1.0 when gold empty).
  *
  * M2 `confusion` — tp/fp/tn/fn + accuracy/precision/recall/F1 from
  * boolean predictions (reference `iepy/metrics.py:6-48`), global
  * (`resultDict`) or per group (the rules verifier's per-rule report).
  */
object Metrics {

  final case class PRF1(
      correct: Long, predicted: Long, gold: Long,
      precision: Double, recall: Double, f1: Double)

  /** Distributed set intersection: one left-semi join + three counts. */
  def evaluate(predicted: DataFrame, gold: DataFrame): PRF1 =
    Caches.scoped { scope =>
      val keys = Seq("subj", "pred", "obj")
      val p = scope.persist(predicted.select(keys.map(col): _*).distinct())
      val g = scope.persist(gold.select(keys.map(col): _*).distinct())
      val nP = p.count(); val nG = g.count()
      val correct = p.join(g, keys, "left_semi").count()
      val prec = if (nP == 0) 1.0 else correct.toDouble / nP
      val rec = if (nG == 0) 1.0 else correct.toDouble / nG
      val f1 = if (prec + rec == 0) 0.0 else 2 * prec * rec / (prec + rec)
      PRF1(correct, nP, nG, prec, rec, f1)
    }

  /** Confusion counts of boolean prediction `p` vs truth `r` plus
    * accuracy/precision/recall/F1, one row per `keys` group (one global
    * row without keys), in ONE aggregation pass (no per-cell scans). */
  def confusion(df: DataFrame, p: Column, r: Column,
      keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(
      sum(when(p && r, 1).otherwise(0)).as("tp"),
      sum(when(p && !r, 1).otherwise(0)).as("fp"),
      sum(when(!p && !r, 1).otherwise(0)).as("tn"),
      sum(when(!p && r, 1).otherwise(0)).as("fn"))
      .withColumn("accuracy",
        (col("tp") + col("tn")) /
          (col("tp") + col("tn") + col("fp") + col("fn")))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, lit(1.0))
          .otherwise(col("tp") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, lit(1.0))
          .otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0, lit(0.0))
          .otherwise(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))

  /** M2 over the whole table: [[confusion]] with no keys. */
  def resultDict(spark: SparkSession, df: DataFrame,
      predictedCol: String = "predicted_label",
      realCol: String = "real_label"): DataFrame =
    confusion(df, col(predictedCol), col(realCol))
}

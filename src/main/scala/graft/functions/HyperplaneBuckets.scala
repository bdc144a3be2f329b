package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** OR-banded sign-bit LSH bucketing over an embedding column: returns
  * `array<long>` of `bands` bucket ids, bit j of band b = sign of the
  * projection onto pseudo-random hyperplane p = b*planesPerBand + j.
  *
  * Why a custom Expression: the composed form
  * ([[graft.simsearch.SimSearch.bucketKey]]) evaluates one
  * `aggregate(transform(...))` per plane — bands*planesPerBand = 128
  * traversals of the embedding with an intermediate array allocation
  * each. Here one kernel reads the embedding once, accumulating all
  * projections per element into one per-row array; whole-stage codegen
  * calls it through [[Kernel.call]].
  *
  * Numeric contract: hyperplane component for (plane p, dim i) =
  * ((i*2654435761 + p*40503 + 2166136261) mod 1000003) / 500001.5 - 1.0,
  * elements widened to double, per-plane accumulation in ascending
  * element order — bit-identical to the composed form AND to the DuckDB
  * oracle's SQL mirror (SparkEntry.lshBandCtes), so swapping it in
  * changes no query result. Null arrays and null elements yield NULL
  * (same convention as [[CosineSimilarity]]) and an empty array sets
  * every bit (all its projections are 0.0), as in the composed form.
  * The DuckDB mirror also gives a NULL array no bucket (its `e` CTE
  * skips it); the composed form clears every bit on a null array or
  * element, and DuckDB raises on a null element.
  */
case class HyperplaneBuckets(child: Expression, bands: Int,
    planesPerBand: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_buckets expects array<float>/array<double>, got " +
          other.catalogString)
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // resolved once per instance, not per row (see CosineSimilarity)
  @transient private lazy val isFloat = Kernel.isFloatArray(child)

  /** The kernel: the bucket ids, or null on a null element. */
  def compute(x: ArrayData): ArrayData = {
    val n = x.numElements()
    val nPlanes = bands * planesPerBand
    val proj = new Array[Double](nPlanes)
    val f = isFloat
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val xi = if (f) x.getFloat(i).toDouble else x.getDouble(i)
      val base = i.toLong * 2654435761L
      var p = 0
      while (p < nPlanes) {
        val h = (base + p.toLong * 40503L + 2166136261L) % 1000003L
        proj(p) += xi * ((h.toDouble / 500001.5) - 1.0)
        p += 1
      }
      i += 1
    }
    val buckets = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var v = 0L
      var j = 0
      while (j < planesPerBand) {
        if (proj(b * planesPerBand + j) >= 0) v |= 1L << j
        j += 1
      }
      buckets(b) = v
      b += 1
    }
    new GenericArrayData(buckets)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernel.call(ctx, ev, this, orNull = true, a))

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

object HyperplaneBuckets {
  def buckets(embedding: Column, bands: Int, planesPerBand: Int): Column =
    Bridge.column(HyperplaneBuckets(
      Bridge.expression(embedding), bands, planesPerBand))
}

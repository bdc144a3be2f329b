package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Cosine similarity over two `array<float>`/`array<double>` columns.
  *
  * Why a custom Expression: the composed built-in form
  * ([[graft.simsearch.SimSearch.cosineComposed]],
  * `aggregate(zip_with(a,b,_*_),0,+) / (sqrt(...)*sqrt(...))`) is
  * interpreted lambda evaluation that materializes an intermediate array
  * per row and walks both inputs three times. Here one kernel walks
  * both arrays once and accumulates the dot product and both norms
  * together; the ANN hot path (every candidate pair) calls it from
  * whole-stage codegen through [[Kernel.call]].
  *
  * Numeric contract: elements widened to double, sequential left-to-right
  * accumulation — bit-identical to the composed form AND to DuckDB's
  * `list_dot_product`-based oracle, so swapping it in changes no results.
  * Degenerate inputs match the composed form's NULL propagation:
  * length-mismatched arrays (zip_with pads with nulls -> null product ->
  * null sum) and null elements both yield NULL, never a truncated or
  * garbage value. A zero-norm input (all zeros, or two empty arrays)
  * yields NULL, as DuckDB's oracle gives for 0/0 (the composed form's
  * division by zero fails under ANSI mode). A NaN there would rank the
  * zero vector first under `cos desc`: Spark orders NaN above every
  * double.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // AbstractDataType/TypeCollection are private[sql]; enforce the input
  // contract through checkInputDataTypes (NEVER in the constructor —
  // Catalyst rewrites construct copies with intermediate children)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<float>/array<double>, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  // null even on non-null inputs: length mismatch / null elements
  override def nullable: Boolean = true

  // resolved once per instance, not per row; lazy for the same reason
  // the type check is not in the constructor
  @transient private lazy val leftIsFloat = Kernel.isFloatArray(left)
  @transient private lazy val rightIsFloat = Kernel.isFloatArray(right)

  /** The kernel: boxed cosine, or null on a length mismatch, a null
    * element or a zero norm. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = leftIsFloat; val rf = rightIsFloat
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      Kernel.call(ctx, ev, this, orNull = true, a, b))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  /** SQL registration: `SELECT cosine_similarity(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => CosineSimilarity(exprs.head, exprs(1)), "scala_udf")
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Index of the first position where two equal-length long arrays hold
  * the same value; -1 when no position matches. Value-identical to
  * `array_position(zip_with(a, b, _ === _), true) - 1` (under the
  * equal-length precondition the LSH band tables establish). Arrays that
  * may hold null elements (`containsNull = true`) are rejected at
  * analysis: the compare loop reads elements without null checks.
  *
  * Why a custom Expression: the composed higher-order form
  * (`slice`/`zip_with`/`filter`) is CodegenFallback — interpreted
  * lambda evaluation plus two array allocations per call. As the
  * first-matching-band dedup predicate of the banded LSH joins it runs
  * once per candidate-probe match (millions per partition at scale);
  * this is one allocation-free compare loop, codegen'd.
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "first_equal_index expects two array<bigint> without null " +
          s"elements (containsNull = false), got $l, $r")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  /** The kernel (never null on non-null inputs). */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  override def nullSafeEval(la: Any, ra: Any): Any =
    compute(la.asInstanceOf[ArrayData], ra.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, ra) =>
      Kernel.call(ctx, ev, this, orNull = false, la, ra))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstEqualIndex =
    copy(left = newLeft, right = newRight)
}

object FirstEqualIndex {
  def index(a: Column, b: Column): Column =
    Bridge.column(FirstEqualIndex(
      Bridge.expression(a), Bridge.expression(b)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Count of common elements of two ASCENDING-SORTED long arrays with no
  * duplicates and no nulls — value-identical to
  * `size(array_intersect(a, b))` under those preconditions (which the
  * hashed-token/shingle dimension tables in [[graft.textops.TextOps]]
  * establish with `sort_array(array_distinct(...))`-shaped derivations).
  * Arrays that may hold null elements (`containsNull = true`) are
  * rejected at analysis, as in [[FirstEqualIndex]]: the merge loop reads
  * elements without null checks. Sortedness and distinctness are
  * documented, not checked.
  *
  * Why a custom Expression: `array_intersect` allocates an OpenHashSet
  * AND an output array per row, only for `size` to throw the elements
  * away. On the near-dup verify path that is one hash set + one array
  * per candidate pair (millions of pairs per partition at scale); the
  * sorted-merge count is a single allocation-free pointer walk per
  * pair. The sort is paid once per DOCUMENT on the dimension side, not
  * once per pair.
  */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "intersect_count_sorted expects two array<bigint> without null " +
          s"elements (containsNull = false), got $l, $r")
    }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  /** The kernel (never null on non-null inputs). */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override def nullSafeEval(la: Any, ra: Any): Any =
    compute(la.asInstanceOf[ArrayData], ra.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, ra) =>
      Kernel.call(ctx, ev, this, orNull = false, la, ra))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

object IntersectCountSorted {
  def count(a: Column, b: Column): Column =
    Bridge.column(IntersectCountSorted(
      Bridge.expression(a), Bridge.expression(b)))
}

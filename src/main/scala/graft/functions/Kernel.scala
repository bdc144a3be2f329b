package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** The one codegen shape of every graft expression. Each expression
  * keeps exactly one kernel, a Scala `compute` over its non-null child
  * values that is also its `nullSafeEval`; its `doGenCode` is
  * `nullSafeCodeGen` around [[Kernel.call]]. The child values are still
  * generated inline and only the kernel is a virtual call on the
  * expression instance (a reference object of the generated class), so
  * the surrounding projection stays inside whole-stage codegen — unlike
  * `CodegenFallback`, which evaluates the children interpretively too.
  *
  * Result contract of `compute`: a kernel whose result is null only when
  * an input is null returns the Java primitive of `dataType` (no boxing
  * on the per-pair verify paths); a kernel that can return null on
  * non-null inputs (`orNull`) returns a boxed value, an `ArrayData` or
  * `null`.
  */
private[functions] object Kernel {

  /** Generated statement that sets `ev` from `e.compute(args)`. */
  def call(ctx: CodegenContext, ev: ExprCode, e: Expression,
      orNull: Boolean, args: String*): String = {
    val ref = ctx.addReferenceObj(e.prettyName, e, e.getClass.getName)
    val result = s"$ref.compute(${args.mkString(", ")})"
    if (!orNull) s"${ev.value} = $result;"
    else {
      val res = ctx.freshName("res")
      val jt = CodeGenerator.javaType(e.dataType)
      val value =
        if (CodeGenerator.isPrimitiveType(jt))
          s"((${CodeGenerator.boxedType(jt)}) $res).${jt}Value()"
        else s"($jt) $res"
      s"""Object $res = $result;
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $value; }""".stripMargin
    }
  }

  /** Whether an `array<float>`/`array<double>` child holds floats. */
  def isFloatArray(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}

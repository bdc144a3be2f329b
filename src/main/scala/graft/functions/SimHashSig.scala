package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fused SimHash-64 over a (distinct) token array — value-identical to
  * the composed form in [[graft.textops.TextOps.simhash]]'s original
  * explode + groupBy shape and to its DuckDB oracle mirror: per token,
  * 64 bits from the first 16 hex nibbles of md5(token) (bit i = bit
  * i%4 of nibble i/4, nibble j = hex char j of the digest, i.e. the
  * high/low nibble of digest byte j/2); per-bit +-1 integer sums over
  * the tokens; signature bit i set iff its sum is > 0.
  *
  * Why a custom Expression: the composed form explodes one row per
  * (doc, token), md5s into a hex STRING, extracts each nibble with
  * conv(substring(...)) and shuffles the 65-column exploded stream
  * into a 64-aggregate groupBy — the signature of a document is a
  * pure per-row function and needs no exchange at all. Here the whole
  * signature is one pass over the token array with a reusable digest,
  * turning d8/d11's signature derivation into a narrow projection.
  *
  * Null arrays and null elements yield NULL (consistent with
  * [[MinHashSlots]]); an empty array yields 0L (no sum is > 0).
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_sig expects array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  @transient private lazy val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The kernel: the boxed signature, or null on a null element. */
  def compute(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val md = digestTL.get()
    val counts = new Array[Int](64)
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t)) return null
      md.reset()
      val d = md.digest(arr.getUTF8String(t).getBytes)
      var i = 0
      while (i < 64) {
        val nib = i >> 2            // hex-char index 0..15
        val byte = d(nib >> 1)
        val nibVal =
          if ((nib & 1) == 0) (byte >> 4) & 0xf else byte & 0xf
        if (((nibVal >> (i & 3)) & 1) == 1) counts(i) += 1
        else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernel.call(ctx, ev, this, orNull = true, a))

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  def sig(tokens: Column): Column =
    Bridge.column(SimHashSig(Bridge.expression(tokens)))
}

package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused k-slot MinHash signature over a token array: slot i = the
  * lexicographic minimum of md5(i + ":" + token) over the tokens,
  * rendered as lowercase hex — value-identical to the composed
  * `array_min(transform(toks, t -> md5(concat('i:', t))))` per slot and
  * to DuckDB's `MIN(md5('i:' || t))` oracle mirror.
  *
  * Why a custom Expression: the composed form walks the token array k
  * times, and each step allocates a concat UTF8String, a commons-codec
  * hex string, and an output UTF8String — k * tokens allocations per
  * document. This single pass keeps one reusable MessageDigest per
  * thread, pre-encodes the k salt prefixes once, tracks minima as raw
  * 16-byte digests (unsigned byte order == hex string order), and
  * hex-encodes only the k winners. Measured ~3x on the minhash stage.
  *
  * Null arrays and null elements yield NULL (consistent with the other
  * graft expressions); an empty token array yields an array of NULL
  * slots, matching array_min's empty-array semantics.
  */
case class MinHashSlots(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_slots expects array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true

  @transient private lazy val prefixes: Array[Array[Byte]] =
    (0 until k).map(i => s"$i:".getBytes("UTF-8")).toArray

  @transient private lazy val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic compare of 16-byte digests — identical
    * ordering to their lowercase-hex strings. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** The kernel: k minima in one token pass, or null on a null
    * element. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val md = digestTL.get()
    val minima = new Array[Array[Byte]](k)
    var t = 0
    while (t < n) {
      if (arr.isNullAt(t)) return null
      val tok = arr.getUTF8String(t).getBytes
      var i = 0
      while (i < k) {
        md.reset()
        md.update(prefixes(i))
        md.update(tok)
        val d = md.digest()
        if (minima(i) == null || less(d, minima(i))) minima(i) = d
        i += 1
      }
      t += 1
    }
    new GenericArrayData(
      minima.map(m => if (m == null) null else toHex(m)): Array[Any])
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => Kernel.call(ctx, ev, this, orNull = true, a))

  override protected def withNewChildInternal(newChild: Expression): MinHashSlots =
    copy(child = newChild)
}

object MinHashSlots {
  def slots(tokens: Column, k: Int): Column =
    Bridge.column(MinHashSlots(Bridge.expression(tokens), k))
}

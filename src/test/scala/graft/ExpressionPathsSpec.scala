package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import graft.functions._
import graft.simsearch.SimSearch

/** One bound expression evaluated along both of Spark's paths, without
  * a Spark job: interpreted (`eval` on the input row) and generated (a
  * compiled unsafe projection over the row's unsafe form — no
  * interpreted fallback). */
object ExpressionPaths {

  /** `c` resolved against `schema` and bound to its ordinals. Analysis
    * runs the expression's type check, so a rejected input type throws
    * an `AnalysisException` here. */
  def bind(spark: SparkSession, schema: StructType, c: Column): Expression = {
    val p = spark.createDataFrame(java.util.Collections.emptyList[Row], schema)
      .select(c).queryExecution.analyzed.asInstanceOf[Project]
    BindReferences.bindReference(p.projectList.head, p.child.output)
  }

  final class Evaluator(schema: StructType, e: Expression) {
    private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    private val toScala = CatalystTypeConverters.createToScalaConverter(e.dataType)
    private val toUnsafe = UnsafeProjection.create(schema)
    private val generated = GenerateUnsafeProjection.generate(Seq(e), false)

    private def internal(row: Row) = toCatalyst(row).asInstanceOf[InternalRow]

    def interpreted(row: Row): Any = toScala(e.eval(internal(row)))

    def codegen(row: Row): Any =
      toScala(generated(toUnsafe(internal(row))).get(0, e.dataType))
  }

  /** Value equality with doubles compared bit-exactly (NaN equals NaN). */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Iterable[_], y: Iterable[_]) =>
      x.size == y.size && x.zip(y).forall { case (u, v) => same(u, v) }
    case _ => a == b
  }
}

/** Property harness for the six hand-written expressions of
  * `graft.functions`: on generated inputs — null arrays, empty arrays,
  * duplicates, null elements wherever the input type allows them, float
  * and double elements — each expression's interpreted and generated
  * values are equal, and equal to its composed reference form. Where
  * the composed form is not the contract (it skips null elements or
  * null arrays, or divides by zero), the row's expected value is named
  * instead. */
class ExpressionPathsSpec extends SparkSpec {
  import ExpressionPaths._

  private val samples = 300

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(samples).withInitialSeed(Seed(20261019L)), p)
    assert(r.passed, Pretty.prettyTestRes(r)(Pretty.defaultParams))
  }

  /** Rows of `schema` drawn from `rows`: `custom` must give the same
    * value interpreted and generated, and that value must be
    * `contract(row)` where defined, else `reference`'s. */
  private def check(schema: StructType, rows: Gen[Row], custom: Column,
      reference: Column, contract: PartialFunction[Row, Any]): Unit = {
    val bound = bind(spark, schema, custom)
    assert(!bound.exists(_.isInstanceOf[CodegenFallback]), bound)
    val kernel = new Evaluator(schema, bound)
    val ref = new Evaluator(schema, bind(spark, schema, reference))
    holds(Prop.forAllNoShrink(rows) { row =>
      val i = kernel.interpreted(row)
      val g = kernel.codegen(row)
      val want = contract.applyOrElse(row, ref.interpreted)
      assert(same(i, g), s"interpreted $i != generated $g on $row")
      assert(same(i, want), s"kernel $i != expected $want on $row")
      true
    })
  }

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Arrays of `elem`: sometimes null, sometimes empty, with a null
    * element now and then when `nullElems`. */
  private def arrays(elem: Gen[Any], maxLen: Int,
      nullElems: Boolean): Gen[Seq[Any]] =
    Gen.frequency(
      1 -> Gen.const(null),
      2 -> Gen.const(Seq.empty),
      12 -> Gen.choose(1, maxLen).flatMap(n => Gen.listOfN(n, elems(elem, nullElems))))

  private def elems(elem: Gen[Any], nullElems: Boolean): Gen[Any] =
    if (nullElems) Gen.frequency(29 -> elem, 1 -> Gen.const(null)) else elem

  private def floats(t: DataType): Gen[Any] = {
    val d = Gen.frequency(6 -> Gen.choose(-2.0, 2.0),
      1 -> Gen.oneOf(0.0, 1.0, -1.0, 0.5))
    if (t == FloatType) d.map(_.toFloat) else d
  }

  private def hasNull(a: Seq[Any]) = a == null || a.contains(null)

  private def zeroNorm(a: Seq[Any]) =
    a.forall(_.asInstanceOf[Number].doubleValue == 0.0)

  test("cosine_similarity: interpreted == generated == composed form") {
    for (lt <- Seq(FloatType, DoubleType); rt <- Seq(FloatType, DoubleType)) {
      val rows = for {
        a <- arrays(floats(lt), 16, nullElems = true)
        b <- Gen.frequency(
          1 -> arrays(floats(rt), 16, nullElems = true),
          4 -> (if (a == null) Gen.const(null)
                else Gen.listOfN(a.size, elems(floats(rt), nullElems = true))))
      } yield Row(a, b)
      check(schemaOf("a" -> ArrayType(lt, true), "b" -> ArrayType(rt, true)), rows,
        CosineSimilarity.cosine(col("a"), col("b")),
        SimSearch.cosineComposed(col("a"), col("b")), {
          // NULL, as DuckDB gives for 0/0; the composed form's division
          // by zero fails
          case Row(a: Seq[Any] @unchecked, b: Seq[Any] @unchecked)
              if a.size == b.size && !hasNull(a) && !hasNull(b) &&
                (zeroNorm(a) || zeroNorm(b)) => null
        })
    }
  }

  test("hyperplane_buckets: interpreted == generated == composed bucketKey") {
    val (bands, planes) = (16, 8)
    for (t <- Seq(FloatType, DoubleType)) {
      check(schemaOf("e" -> ArrayType(t, true)),
        arrays(floats(t), 16, nullElems = true).map(Row(_)),
        HyperplaneBuckets.buckets(col("e"), bands, planes),
        array((0 until bands).map(b =>
          SimSearch.bucketKey(col("e"), planes, firstPlane = b * planes)): _*), {
          // the composed form clears every bit in these two cases
          case Row(e: Seq[Any] @unchecked) if hasNull(e) => null
          case Row(null) => null
        })
    }
  }

  private val words: Gen[Any] = Gen.frequency(
    6 -> Gen.oneOf("the", "cat", "sat", "on", "mat", "é", "日本"),
    1 -> Gen.alphaNumStr)

  test("minhash_slots: interpreted == generated == composed per-slot minima") {
    val k = 8
    check(schemaOf("t" -> ArrayType(StringType, true)),
      arrays(words, 12, nullElems = true).map(Row(_)),
      MinHashSlots.slots(col("t"), k),
      array((0 until k).map(i =>
        array_min(transform(col("t"), w => md5(concat(lit(s"$i:"), w))))): _*), {
        // array_min skips null elements; a null array gives k null slots
        case Row(t: Seq[Any] @unchecked) if hasNull(t) => null
        case Row(null) => null
      })
  }

  test("simhash_sig: interpreted == generated == composed md5-nibble sums") {
    // bit i: bit i%4 of hex nibble i/4 of md5(token), summed as +-1
    val composed = (0 until 64).map { i =>
      val sum = aggregate(transform(col("t"), w =>
        when(shiftright(conv(substring(md5(w), (i >> 2) + 1, 1), 16, 10)
          .cast("int"), i & 3).bitwiseAND(1) === 1, 1).otherwise(-1)),
        lit(0), _ + _)
      when(sum > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    check(schemaOf("t" -> ArrayType(StringType, true)),
      arrays(words, 12, nullElems = true).map(Row(_)),
      SimHashSig.sig(col("t")), composed, {
        // the composed sums count a null token as -1 on every bit
        case Row(t: Seq[Any] @unchecked) if hasNull(t) => null
        case Row(null) => null
      })
  }

  private val longs2 =
    schemaOf("a" -> ArrayType(LongType, false), "b" -> ArrayType(LongType, false))

  test("intersect_count_sorted: interpreted == generated == size(array_intersect)") {
    // the documented precondition: ascending, distinct
    val sortedSet: Gen[Seq[Any]] = Gen.frequency(
      1 -> Gen.const(null),
      8 -> Gen.containerOf[Set, Long](Gen.choose(-8L, 8L)).map(_.toSeq.sorted),
      1 -> Gen.someOf(Seq(Long.MinValue, -1L, 0L, Long.MaxValue)).map(_.toSeq.sorted))
    check(longs2, Gen.zip(sortedSet, sortedSet).map { case (a, b) => Row(a, b) },
      IntersectCountSorted.count(col("a"), col("b")),
      size(array_intersect(col("a"), col("b"))), PartialFunction.empty)
  }

  test("first_equal_index: interpreted == generated == composed position") {
    val ls = arrays(Gen.choose(-3L, 3L), 8, nullElems = false)
    val rows = for {
      a <- ls
      b <- Gen.frequency(1 -> ls,
        3 -> (if (a == null) Gen.const(null)
              else Gen.listOfN(a.size, Gen.choose(-3L, 3L))))
    } yield Row(a, b)
    check(longs2, rows, FirstEqualIndex.index(col("a"), col("b")),
      coalesce(array_position(zip_with(col("a"), col("b"), _ === _), lit(true)),
        lit(0L)).cast("int") - 1, {
        case Row(null, _) | Row(_, null) => null // the coalesce gives -1
      })
  }
}

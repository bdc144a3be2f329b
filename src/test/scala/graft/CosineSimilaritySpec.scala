package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import graft.functions.CosineSimilarity
import graft.simsearch.SimSearch

/** The custom codegen'd cosine expression: value-identical to the
  * composed-builtins form, works in SQL, survives codegen. */
class CosineSimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    (0 until 50).map { i =>
      val rnd = new java.util.Random(i)
      (i.toLong, Array.fill(64)(rnd.nextFloat()))
    }.toDF("id", "embedding")
  }

  test("bit-identical to the composed aggregate/zip_with form") {
    val df = vecs
    val a = df.select(col("id"), col("embedding").as("e1"))
    val b = df.select(col("id").as("id2"), col("embedding").as("e2"))
    val pairs = a.crossJoin(b).where(col("id") < col("id2"))
    val out = pairs.select(
      SimSearch.cosine(col("e1"), col("e2")).as("custom"),
      SimSearch.cosineComposed(col("e1"), col("e2")).as("composed"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("self-similarity is 1.0; orthogonal is 0.0") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 2.0f))).toDF("a", "b")
    val vals = df.select(SimSearch.cosine(col("a"), col("b")))
      .collect().map(_.getDouble(0))
    assert(math.abs(vals(0) - 1.0) < 1e-12)
    assert(math.abs(vals(1)) < 1e-12)
  }

  test("degenerate inputs propagate NULL like the composed form") {
    import spark.implicits._
    val df = Seq(
      // length mismatch
      (Array[java.lang.Float](1.0f, 2.0f),
        Array[java.lang.Float](1.0f, 2.0f, 3.0f)),
      // null element
      (Array[java.lang.Float](1.0f, null),
        Array[java.lang.Float](1.0f, 2.0f)),
      // clean row
      (Array[java.lang.Float](1.0f, 0.0f),
        Array[java.lang.Float](1.0f, 0.0f))).toDF("a", "b")
    // through a query (a projection over local rows, which the optimizer
    // evaluates while planning)
    val fused = df.select(SimSearch.cosine(col("a"), col("b"))).collect()
    assert(fused(0).isNullAt(0) && fused(1).isNullAt(0))
    assert(math.abs(fused(2).getDouble(0) - 1.0) < 1e-12)
    // interpreted path (`eval`) and generated path (compiled projection)
    // must agree on the same three rows
    val paths = new ExpressionPaths.Evaluator(df.schema, ExpressionPaths.bind(
      spark, df.schema, SimSearch.cosine(col("a"), col("b"))))
    val rows = df.collect()
    val interpreted = rows.map(paths.interpreted)
    assert(interpreted(0) == null && interpreted(1) == null)
    assert(math.abs(interpreted(2).asInstanceOf[Double] - 1.0) < 1e-12)
    rows.foreach(r => assert(
      ExpressionPaths.same(paths.codegen(r), paths.interpreted(r)), r))
    // composed form: same three verdicts
    val composed = df.select(
      SimSearch.cosineComposed(col("a"), col("b"))).collect()
    assert(composed(0).isNullAt(0) && composed(1).isNullAt(0))
    assert(math.abs(composed(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("SQL registration: cosine_similarity usable from spark.sql") {
    CosineSimilarity.register(spark)
    vecs.createOrReplaceTempView("v")
    val n = spark.sql(
      """SELECT a.id, b.id, cosine_similarity(a.embedding, b.embedding) c
        |FROM v a JOIN v b ON a.id < b.id""".stripMargin)
      .where(col("c").between(-1.0001, 1.0001)).count()
    assert(n == 50L * 49 / 2)
  }

  test("whole-stage codegen plan contains the fused expression") {
    // a range source: a projection over local rows would be folded away
    val df = spark.range(8)
      .select(array(col("id").cast("float"), lit(1.0f)).as("e"))
      .select(SimSearch.cosine(col("e"), col("e")).as("c"))
    val plan = df.queryExecution.executedPlan
    val inStage = plan.collect { case w: WholeStageCodegenExec => w }
      .flatMap(_.child.flatMap(_.expressions))
      .flatMap(_.collect { case c: CosineSimilarity => c })
    assert(inStage.nonEmpty, plan)
    assert(!inStage.exists(_.isInstanceOf[CodegenFallback]))
    // the generated stage calls the one kernel
    val src = codegenString(plan)
    assert(src.contains(classOf[CosineSimilarity].getName) &&
      src.contains(".compute("))
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }
}

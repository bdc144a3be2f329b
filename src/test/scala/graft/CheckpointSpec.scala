package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.corpus.CorpusGen
import graft.pipeline.{Checkpoint, Fs, Pipeline}

/** North-rule resumability: kill/rerun recomputes nothing already
  * checkpointed; manifest carries per-partition lineage. */
class CheckpointSpec extends SparkSpec {

  private val sf = 0.0002
  private lazy val gazette = CorpusGen.gazette(sf)
  private lazy val all = CorpusGen.rawDocs(spark, sf)
  private lazy val half = all.filter(d => d.path.length % 2 == 0)

  private def docIds(batch: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(batch).select("doc_id").as[String].collect().toSet
  }

  private def name(path: String) = path.split('/').last

  test("extract resume computes only missing docs; finished work untouched") {
    val dir = Files.createTempDirectory("graft-ckpt").toString

    // first run: half the corpus, all of it extracted
    val r1 = Pipeline.runCheckpointed(spark, half, gazette, dir)
    r1.cleanup()
    val b1 = docIds(r1.newExtractBatch.get)
    assert(b1.size == half.count())

    // resume with the FULL corpus: only the missing docs are extracted
    val r2 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    r2.cleanup()
    val b2 = docIds(r2.newExtractBatch.get)
    assert(b2.size == all.count() - half.count())
    assert(b1.intersect(b2).isEmpty, "a finished doc was extracted again")

    // third run, nothing missing: no new batch
    val r3 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    r3.cleanup()
    assert(r3.newExtractBatch.isEmpty)
    assert(Checkpoint.live(s"$dir/extract").map(name) ==
      Seq("batch_00000000", "batch_00000001"))

    // manifest exists with per-batch, per-partition rows
    val manifest = spark.read.json(s"$dir/_manifest/extract")
    assert(manifest.agg(sum("rows")).head.getLong(0) == all.count())
    assert(manifest.columns.toSet ==
      Set("batch", "partition", "rows", "min_key", "max_key", "stage"))
    assert(manifest.select("batch").distinct().count() == 2)
  }

  test("uncommitted (crashed) extract batch dirs are invisible to resume") {
    val dir = Files.createTempDirectory("graft-ckpt2").toString
    Pipeline.runCheckpointed(spark, half, gazette, dir).cleanup()
    // simulate a crashed run over the full corpus: task files present,
    // no _SUCCESS marker
    val garbage = s"$dir/extract/batch_00000007"
    Pipeline.extract(spark, all, gazette, keepNegatives = false)
      .write.parquet(garbage)
    Fs.deleteRecursive(s"$garbage/_SUCCESS")
    assert(Checkpoint.live(s"$dir/extract").map(name) == Seq("batch_00000000"))
    // the rerun extracts the docs the garbage holds, into the next
    // index after the garbage's, never colliding with it
    val r = Pipeline.runCheckpointed(spark, all, gazette, dir)
    assert(r.triples.count() > 0)
    r.cleanup()
    assert(name(r.newExtractBatch.get) == "batch_00000008")
    assert(docIds(r.newExtractBatch.get).size == all.count() - half.count())
    assert(spark.read.parquet(Checkpoint.live(s"$dir/extract"): _*).count() ==
      all.count(), "marker-less batch leaked into reads")
  }

  test("checkpointed pipeline: kill/rerun reuses extract batches, triples identical") {
    val dir = Files.createTempDirectory("graft-ckpt-run").toString

    // run 1 "dies" after extract committed batch 0 (on half the corpus)
    val r1 = Pipeline.runCheckpointed(spark, half, gazette, dir)
    r1.triples.count()
    r1.cleanup()
    val batch0 = r1.newExtractBatch.get
    def batchFiles(b: String) = new java.io.File(
      b.stripPrefix("file:")).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val batch0Before = batchFiles(batch0)
    assert(batch0Before.nonEmpty)

    // rerun on the FULL corpus: batch 0 untouched, the new batch holds
    // exactly the docs batch 0 lacks
    val r2 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    val triples2 = r2.triples
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    assert(r2.newExtractBatch.isDefined && r2.newExtractBatch.get != batch0)
    assert(batchFiles(batch0) == batch0Before,
      "committed batch 0 was rewritten on resume")
    val nAll = all.count()
    val nHalf = half.count()
    assert(spark.read.parquet(r2.newExtractBatch.get).count() == nAll - nHalf)
    r2.cleanup()

    // identical to the non-checkpointed run on the same corpus
    val (oneShot, cl) = Pipeline.runWithCleanup(spark, all, gazette)
    val expected = oneShot
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    cl()
    assert(triples2 == expected)

    // third run: resume is a no-op — nothing recomputed, no new batch
    val r3 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    assert(r3.newExtractBatch.isEmpty)
    assert(r3.triples.count() == expected.size)
    r3.cleanup()
  }

  test("a checkpoint of 5-digit batch names resumes; indices order as numbers") {
    val dir = Files.createTempDirectory("graft-ckpt-width").toString
    // an earlier layout named batches `batch_NNNNN`: commit one there
    val r1 = Pipeline.runCheckpointed(spark, half, gazette, dir)
    r1.cleanup()
    Fs.of(dir).rename(new org.apache.hadoop.fs.Path(r1.newExtractBatch.get),
      new org.apache.hadoop.fs.Path(s"$dir/extract/batch_00003"))
    // resume: only the missing docs, into index 4 (whose 8-digit name
    // sorts BEFORE `batch_00003` as a string)
    val r2 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    val triples = r2.triples
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    r2.cleanup()
    assert(name(r2.newExtractBatch.get) == "batch_00000004")
    assert(docIds(r2.newExtractBatch.get).size == all.count() - half.count())
    assert(Checkpoint.live(s"$dir/extract").map(name) ==
      Seq("batch_00003", "batch_00000004"))
    assert(Checkpoint.liveBefore(s"$dir/extract", 4).map(name) ==
      Seq("batch_00003"))
    val (oneShot, cl) = Pipeline.runWithCleanup(spark, all, gazette)
    assert(triples == oneShot
      .select("subj", "pred", "obj", "evidence_id").collect().toSet)
    cl()
    // and a third run is a no-op
    val r3 = Pipeline.runCheckpointed(spark, all, gazette, dir)
    r3.cleanup()
    assert(r3.newExtractBatch.isEmpty)
  }
}

package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.corpus.CorpusGen
import graft.pipeline.{Caches, Checkpoint, Fs, Pipeline}
import graft.schema.RawDoc
import graft.streaming.StreamingExtract

/** Structured-Streaming ingest: the fused extract streams unchanged,
  * and the INCREMENTAL per-batch link converges to exactly the batch
  * pipeline's triples while touching only the components the batch's
  * entities can reach (metrics.json per state batch proves the bound). */
class StreamingExtractSpec extends SparkSpec {

  private def latestMetrics(dir: String): Map[String, Long] = {
    val state = Fs.listDirs(s"$dir/state", "batch_").last
    val json = Fs.readString(s"$state/metrics.json")
    "\"(\\w+)\":(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  test("micro-batches yield the batch pipeline's exact triple set, with bounded link input") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = 0.0002
    val gazette = CorpusGen.gazette(sf)
    val docs = CorpusGen.rawDocs(spark, sf).collect().toSeq
    val (first, rest) = docs.splitAt(docs.length / 2)

    val ms = MemoryStream[RawDoc]
    val dir = Files.createTempDirectory("graft-stream").toString
    assert(StreamingExtract
      .extractStream(spark, ms.toDS(), gazette).isStreaming)

    // a table another caller owns, tracked in the global queue: a link
    // step frees exactly its own caches and leaves this one cached
    val other = Caches.tracked(spark.range(1000).toDF("n"))
    assert(other.count() == 1000)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val q = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir)
    try {
      ms.addData(first)
      q.processAllAvailable()
      assert(other.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "a link step released a table it does not own")
      assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
        "a link step left its caches behind")
      Caches.release()
      val mid = spark.read.parquet(s"$dir/triples").count()
      assert(mid > 0, "first micro-batch produced no triples")
      val m0 = latestMetrics(dir)
      assert(m0("incremental") == 0, "first batch has no prior state")

      ms.addData(rest)
      q.processAllAvailable()
      val m1 = latestMetrics(dir)
      assert(m1("incremental") == 1)
      assert(m1("cc_input_entities") <= m1("total_entities"))
    } finally q.stop()

    val streamed = spark.read.parquet(s"$dir/triples")
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    val (batch, cl) = Pipeline.runWithCleanup(spark, docs.toDS(), gazette)
    val expected = batch
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    cl()
    assert(streamed == expected,
      s"streamed ${streamed.size} != batch ${expected.size}")

    // restart from the stream checkpoint: a new query over the same
    // workDir replays NOTHING (source offsets are committed), so the
    // accumulated extract table keeps exactly one row per doc
    val extractRows = spark.read
      .parquet(s"$dir/extract_stream/batch_*").count()
    assert(extractRows == docs.length.toLong)
    val q2 = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir)
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$dir/extract_stream/batch_*").count()
        == extractRows,
        "restarted query replayed already-committed micro-batches")

      // third batch: ONE tiny doc touching exactly two gazette entities.
      // The incremental linker must (a) run CC only over the components
      // those entities reach — far below the accumulated entity table —
      // and (b) still produce the exact batch-pipeline triple set.
      val tiny = RawDoc("tiny_repo", "src/t.src", "cafecafecafe", "scala",
        s"Function ${CorpusGen.funName(0)} calls function " +
          s"${CorpusGen.funName(1)} .\n")
      ms.addData(Seq(tiny))
      q2.processAllAvailable()
    } finally q2.stop()

    val m2 = latestMetrics(dir)
    assert(m2("incremental") == 1)
    assert(m2("cc_input_entities") < m2("total_entities") / 4,
      s"tiny batch re-linked ${m2("cc_input_entities")} of " +
        s"${m2("total_entities")} entities — the link input is not " +
        "bounded by touched components")
    assert(m2("touched_components") >= 1)

    val tiny = RawDoc("tiny_repo", "src/t.src", "cafecafecafe", "scala",
      s"Function ${CorpusGen.funName(0)} calls function " +
        s"${CorpusGen.funName(1)} .\n")
    val streamed3 = spark.read.parquet(s"$dir/triples")
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    val (batch3, cl3) = Pipeline.runWithCleanup(spark,
      (docs :+ tiny).toDS(), gazette)
    val expected3 = batch3
      .select("subj", "pred", "obj", "evidence_id").collect().toSet
    cl3()
    assert(streamed3 == expected3,
      s"after tiny batch: streamed ${streamed3.size} != " +
        s"batch ${expected3.size}")
    // the tiny doc's planted fact must be in the final table
    assert(streamed3.exists(r => r.getString(0) == CorpusGen.funName(0)
      && r.getString(1) == "calls" && r.getString(2) == CorpusGen.funName(1)))
  }

  test("long run: 20 micro-batches keep the link input bounded while the corpus grows; compaction bounds the extract layout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gazette = CorpusGen.gazette(0.0002)
    def doc(i: Int): RawDoc = {
      // two planted gazette functions per doc; every 5th batch revisits
      // the first pair, so recurring entity keys (and the key-identity
      // touch leg) are exercised under growth
      val (a, b) =
        if (i % 5 == 4) (CorpusGen.funName(0), CorpusGen.funName(1))
        else (CorpusGen.funName(2 * i), CorpusGen.funName(2 * i + 1))
      RawDoc(s"repo$i", s"src/f$i.src", "beef" * 3, "scala",
        s"Function $a calls function $b .\n")
    }
    val ms = MemoryStream[RawDoc]
    val dir = Files.createTempDirectory("graft-stream-long").toString
    val q = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir,
      compactEvery = 5)
    val ccInputs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
    // cumulative compaction-rewrite audit: every compact dir is written
    // exactly once (deterministic names), so rows rewritten = sum of
    // row counts of compact dirs as they appear
    def isCompact(d: String): Boolean =
      d.split('/').last.matches(".*_c\\d+$")
    val seenCompacts = scala.collection.mutable.Set.empty[String]
    var rewrittenRows = 0L
    def accountRewrite(): Unit =
      Fs.listDirs(s"$dir/extract_stream", "batch_")
        .filter(isCompact)
        .filterNot(seenCompacts.contains)
        .foreach { d =>
          seenCompacts += d
          rewrittenRows += spark.read.parquet(d).count()
        }
    try {
      (0 until 20).foreach { i =>
        ms.addData(Seq(doc(i)))
        q.processAllAvailable()
        val m = latestMetrics(dir)
        ccInputs += m("cc_input_entities")
        totals += m("total_entities")
        accountRewrite()
      }
    } finally q.stop()

    // the incremental-link claim, MEASURED: the accumulated entity table
    // grows linearly with the stream, the per-batch CC input does not —
    // late batches touch no more than the early ones did
    assert(totals.last >= totals(4) * 3,
      s"corpus did not grow as planted: $totals")
    assert(ccInputs.drop(10).max <= ccInputs.take(10).max,
      s"late-batch CC input grew with the corpus: $ccInputs")
    assert(ccInputs.last.toDouble < totals.last.toDouble / 4,
      s"final batch re-linked ${ccInputs.last} of ${totals.last} entities")

    // compaction bounded the layout: committed tier-1 compacts stand in
    // for the folded batches, plains stay under the compaction window,
    // and the exact row set is preserved (one DocExtract row per doc)
    val dirs = Fs.listDirs(s"$dir/extract_stream", "batch_")
    val compacts = dirs.filter(isCompact)
    val plains = dirs.filterNot(isCompact)
    assert(compacts.nonEmpty, "no compaction after 20 batches at every=5")
    assert(compacts.forall(Fs.hasSuccess))
    assert(plains.size <= 6, s"compaction left ${plains.size} plain dirs")
    assert(spark.read.parquet(dirs: _*).count() == 20L)

    // the tiered-rewrite bound, MEASURED: each row is rewritten only
    // when it climbs a tier — O(N log_every N) rows over the stream's
    // life. At every=5 over batches 0..19 (the current batch never
    // compacts) exactly three tier-1 folds of 5 rows happen (after
    // batches 5, 10, 15): 15 rows. The replaced cumulative-prefix
    // scheme re-folded the whole history each time: 5 + 10 + 15 = 30
    // rows here, O(N^2/every) in general — the bound below fails it.
    assert(rewrittenRows <= 15L,
      s"compaction rewrote $rewrittenRows rows over 20 batches — " +
        "cumulative-prefix behavior (O(N^2/every)), not tiered")

    // stream == batch after 20 batches, duplicates impossible to hide:
    // compare sorted sequences
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "evidence_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSeq.sorted
    val streamed = rows(spark.read.parquet(s"$dir/triples"))
    val (batch, cl) = Pipeline.runWithCleanup(spark,
      (0 until 20).map(doc).toDS(), gazette)
    val expected = rows(batch)
    cl()
    assert(streamed == expected,
      s"after 20 batches: streamed ${streamed.size} != batch ${expected.size}")

    // restart over the compacted layout: committed offsets replay
    // nothing; one more batch still links against the compacted history
    val q2 = StreamingExtract.runToTriples(spark, ms.toDS(), gazette, dir,
      compactEvery = 5)
    try {
      ms.addData(Seq(doc(20)))
      q2.processAllAvailable()
    } finally q2.stop()
    // the restart batch folds plains 15-19 into a fourth tier-1 compact
    accountRewrite()
    assert(rewrittenRows <= 20L,
      s"post-restart rewrite total $rewrittenRows exceeds the tiered bound")
    val streamed21 = rows(spark.read.parquet(s"$dir/triples"))
    val (batch21, cl21) = Pipeline.runWithCleanup(spark,
      (0 until 21).map(doc).toDS(), gazette)
    val expected21 = rows(batch21)
    cl21()
    assert(streamed21 == expected21,
      "post-restart batch over compacted history diverged from full re-link")
  }

  test("incremental link re-links a component whose entity_key recurs with a form-disjoint smaller alias") {
    // Regression: touch detection matched only on the (kind, form) of the
    // batch's DEDUPED aliases. Coref repointing can attach a created
    // anaphora alias to an existing canonical key; when that alias is
    // lexicographically smaller AND form-disjoint (here "aaaPronoun" vs
    // "zebraFun"), dedupeEntities' min(alias) replaces the key's form set
    // and the form-only leg classifies the key's prior component as
    // untouched — newCanon then held the key twice (sub-CC + untouched
    // remainder) and triplesOf fanned out duplicate/wrong-subject rows.
    import spark.implicits._
    import Pipeline.{DocExtract, EntityRow, Prediction}
    val dir = Files.createTempDirectory("graft-stream-touch").toString
    val b0 = Seq(DocExtract("d1",
      Array(Prediction("ev1", "calls", "zebraFun", "d1 FUNCTION 5 6",
        answer = true)),
      Array(
        EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
        EntityRow("d1 FUNCTION 5 6", "FUNCTION", "otherFun",
          from_gazette = false),
        EntityRow("d1 FUNCTION 9 10", "FUNCTION", "aaapronoun",
          from_gazette = false))))
    val b1 = Seq(DocExtract("d2",
      Array(Prediction("ev2", "calls", "d2 FUNCTION 0 1", "zebraFun",
        answer = true)),
      Array(
        // the gazette key RECURS carrying only its coref-created alias:
        // smaller than and form-disjoint from every batch-0 zebraFun form
        EntityRow("zebraFun", "FUNCTION", "aaaPronoun", from_gazette = true),
        EntityRow("d2 FUNCTION 0 1", "FUNCTION", "someFun",
          from_gazette = false))))
    b0.toDS().write.parquet(s"$dir/extract_stream/batch_00000000")
    StreamingExtract.incrementalLink(spark, dir, 0L)
    b1.toDS().write.parquet(s"$dir/extract_stream/batch_00000001")
    StreamingExtract.incrementalLink(spark, dir, 1L)

    val state = Fs.listDirs(s"$dir/state", "batch_").last
    val canon = spark.read.parquet(s"$state/canonical")
    assert(canon.groupBy("entity_key").count()
      .filter($"count" > 1).count() == 0,
      "canonical map holds a recurring entity_key more than once")

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] =
      df.select("subj", "pred", "obj", "evidence_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSeq.sorted
    // bit-identical to a full batch re-link over both batches — compared
    // as SORTED SEQUENCES so duplicate fan-out cannot hide in a set
    val allEnts = Pipeline.dedupeEntities((b0 ++ b1).flatMap(_.entities).toDF())
    val fullCanon = graft.canonical.Canonicalize.components(spark, allEnts)
    val expected = rows(Pipeline.triplesOf(
      (b0 ++ b1).flatMap(_.predictions).toDF().filter($"answer"), fullCanon))
    val got = rows(spark.read.parquet(s"$dir/triples"))
    assert(got == expected, s"incremental $got != full re-link $expected")
    // the min-alias merge took effect: d1 FUNCTION 9 10 (alias
    // "aaapronoun") now folds into the gazette representative
    assert(fullCanon.filter($"entity_key" === "d1 FUNCTION 9 10")
      .select("canonical").head().getString(0) == "zebraFun")
  }

  test("replaying a link step rewrites identical state") {
    // foreachBatch is at-least-once: a replayed batch N rebuilds from
    // state N-1 and must overwrite state N with identical content. Batch
    // 0 links over empty prior state, batch 1 over batch 0's (its
    // "other_fun" shares batch 0's hub "FUNCTION otherfun" and zebraFun
    // recurs, so it touches both prior components); each is linked
    // twice.
    import spark.implicits._
    import Pipeline.{DocExtract, EntityRow, Prediction}
    val dir = Files.createTempDirectory("graft-stream-replay").toString
    val batches = Seq(
      Seq(DocExtract("d1",
        Array(Prediction("ev1", "calls", "zebraFun", "d1 FUNCTION 5 6",
          answer = true)),
        Array(
          EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
          EntityRow("d1 FUNCTION 5 6", "FUNCTION", "otherFun",
            from_gazette = false)))),
      Seq(DocExtract("d2",
        Array(Prediction("ev2", "calls", "d2 FUNCTION 0 1", "zebraFun",
          answer = true)),
        Array(
          EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
          EntityRow("d2 FUNCTION 0 1", "FUNCTION", "other_fun",
            from_gazette = false)))))
    def snapshot(state: String): Seq[Seq[String]] =
      Seq("entities", "canonical", "triples").map(t =>
        spark.read.parquet(s"$state/$t").collect().map(_.toString).toSeq
          .sorted) :+ Seq(Fs.readString(s"$state/metrics.json"))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.toDS().write.parquet(f"$dir/extract_stream/batch_$i%08d")
      val state = f"$dir/state/batch_$i%08d"
      StreamingExtract.incrementalLink(spark, dir, i.toLong)
      val first = snapshot(state)
      StreamingExtract.incrementalLink(spark, dir, i.toLong)
      val replayed = snapshot(state)
      assert(replayed == first, s"replay of batch $i changed its state")
      val triples = replayed(2)
      assert(triples.nonEmpty && triples == triples.distinct,
        s"batch $i triples: $triples")
    }
    assert(latestMetrics(dir)("touched_components") == 2)
  }

  test("state dirs compare as numbers: batch 100000000 links over batch 99999999") {
    // batch_100000000 sorts before batch_99999999 as a name; a link step
    // that picked its prior state by name would see none at 10^8, lose
    // the history and never prune the older state
    import spark.implicits._
    import Pipeline.{DocExtract, EntityRow, Prediction}
    val dir = Files.createTempDirectory("graft-stream-rollover").toString
    val batches = Seq(
      Seq(DocExtract("d1",
        Array(Prediction("ev1", "calls", "zebraFun", "d1 FUNCTION 5 6",
          answer = true)),
        Array(
          EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
          EntityRow("d1 FUNCTION 5 6", "FUNCTION", "otherFun",
            from_gazette = false)))),
      Seq(DocExtract("d2",
        Array(Prediction("ev2", "calls", "d2 FUNCTION 0 1", "zebraFun",
          answer = true)),
        Array(
          EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
          EntityRow("d2 FUNCTION 0 1", "FUNCTION", "someFun",
            from_gazette = false)))),
      Seq(DocExtract("d3",
        Array(Prediction("ev3", "calls", "zebraFun", "d3 FUNCTION 2 3",
          answer = true)),
        Array(
          EntityRow("zebraFun", "FUNCTION", "zebraFun", from_gazette = true),
          EntityRow("d3 FUNCTION 2 3", "FUNCTION", "thirdFun",
            from_gazette = false)))))
    val ids = Seq(99999999L, 100000000L, 100000001L)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, String)] =
      df.select("subj", "pred", "obj", "evidence_id")
        .as[(String, String, String, String)].collect().toSeq.sorted
    batches.zip(ids).zipWithIndex.foreach { case ((b, id), n) =>
      b.toDS().write.parquet(
        s"$dir/extract_stream/${Checkpoint.batchName(id)}")
      StreamingExtract.incrementalLink(spark, dir, id)
      val metrics = Fs.readString(
        s"$dir/state/${Checkpoint.batchName(id)}/metrics.json")
      assert(metrics.contains(s""""incremental":${if (n == 0) 0 else 1}"""),
        s"batch $id: $metrics")
      // the incremental triples equal a full re-link of every batch so far
      val seen = batches.take(n + 1).flatten
      val fullCanon = graft.canonical.Canonicalize.components(spark,
        Pipeline.dedupeEntities(seen.flatMap(_.entities).toDF()))
      val expected = rows(Pipeline.triplesOf(
        seen.flatMap(_.predictions).toDF().filter($"answer"), fullCanon))
      assert(rows(spark.read.parquet(s"$dir/triples")) == expected,
        s"batch $id")
    }
    // the last link pruned the state older than its prior one
    assert(Checkpoint.indexed(s"$dir/state").map(_._1) == ids.drop(1))
  }

  test("tiered compaction: cascading folds, crash leftovers") {
    import spark.implicits._
    def mkPlain(dir: String, i: Int): Unit =
      Seq((i.toLong, s"doc$i")).toDF("doc_id", "tag")
        .write.mode("overwrite").parquet(f"$dir/batch_$i%08d")
    def names(dir: String): Set[String] =
      Fs.listDirs(dir, "batch_").map(_.split('/').last).toSet

    // cascade: 8 plains at every=2 climb three tiers — each row is
    // rewritten once per tier, ending in ONE c3 dir
    val d1 = Files.createTempDirectory("graft-compact-cascade").toString
    (0 until 8).foreach(mkPlain(d1, _))
    Checkpoint.compact(spark, d1, before = 8, every = 2)
    assert(names(d1) == Set("batch_00000007_c3"), s"dirs: ${names(d1)}")
    val view1 = Checkpoint.liveBefore(d1, 8)
    assert(view1.map(_.split('/').last) == Seq("batch_00000007_c3"))
    assert(spark.read.parquet(view1: _*).select("doc_id")
      .as[Long].collect().sorted.toSeq == (0L until 8L))

    // crash between the compact's commit and input cleanup: the committed
    // compact supersedes its still-on-disk inputs (no double count),
    // and the next call's sweep deletes them
    val d2 = Files.createTempDirectory("graft-compact-crash").toString
    (0 until 3).foreach(mkPlain(d2, _))
    spark.read.parquet(f"$d2/batch_${0}%08d", f"$d2/batch_${1}%08d")
      .write.parquet(s"$d2/batch_00000001_c1")
    val view2 = Checkpoint.liveBefore(d2, 3)
    assert(view2.map(_.split('/').last) ==
      Seq("batch_00000001_c1", "batch_00000002"))
    assert(spark.read.parquet(view2: _*).count() == 3L)
    Checkpoint.compact(spark, d2, before = 3, every = 5)
    assert(names(d2) == Set("batch_00000001_c1", "batch_00000002"),
      s"sweep left: ${names(d2)}")

    // crash before the compact's commit: a compact dir without _SUCCESS
    // (here holding only part of its fold) is ignored, and the same fold
    // overwrites it
    val d3 = Files.createTempDirectory("graft-compact-uncommitted").toString
    (0 until 3).foreach(mkPlain(d3, _))
    spark.read.parquet(f"$d3/batch_${0}%08d")
      .write.parquet(s"$d3/batch_00000002_c1")
    Fs.deleteRecursive(s"$d3/batch_00000002_c1/_SUCCESS")
    assert(Checkpoint.liveBefore(d3, 3).map(_.split('/').last) ==
      Seq("batch_00000000", "batch_00000001", "batch_00000002"))
    Checkpoint.compact(spark, d3, before = 3, every = 3)
    assert(names(d3) == Set("batch_00000002_c1"), s"dirs: ${names(d3)}")
    val view3 = Checkpoint.liveBefore(d3, 3)
    assert(view3.map(_.split('/').last) == Seq("batch_00000002_c1"))
    assert(spark.read.parquet(view3: _*).select("doc_id")
      .as[Long].collect().sorted.toSeq == (0L until 3L))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.canonical.Canonicalize
import graft.pipeline.{Caches, Checkpoint, Fs, Pipeline}
import graft.schema.RawDoc

/** Structured-Streaming ingest for the KG pipeline: the batch engine's
  * fused per-doc extract (P2-P13 + N1-N6 + R1-R8, `Pipeline.extract`)
  * applied unchanged to a STREAM of raw documents, with an INCREMENTAL
  * cross-document link.
  *
  * Why extraction streams cleanly: it is stateless and embarrassingly
  * parallel per document — one narrow `mapPartitions` over the source,
  * no shuffle, no state store, no watermark needed. Exactly-once per
  * doc comes from the source's offset tracking PLUS an idempotent sink:
  * foreachBatch is at-least-once, so each micro-batch overwrites its
  * own batchId-indexed dir (a crash-replayed batch rewrites identical
  * content instead of appending duplicates). The extract batches live
  * in the same per-doc store as the checkpointed batch run's
  * ([[graft.pipeline.Checkpoint]]): the stream commits, lists, reads
  * and compacts `extract_stream/` through it, under its one commit rule
  * (Spark's `_SUCCESS`).
  *
  * Cross-document linking (connected-components canonicalization) is a
  * GLOBAL computation — any new doc can reshape components. But it can
  * still be updated incrementally WITHOUT approximation, because every
  * component is exactly one CC hub group ([[Canonicalize.hubExpr]]:
  * kind plus most-folded form): a batch can only reshape the groups of
  * the hubs it carries, plus the prior groups of entity keys that recur
  * in it (a recurring key may arrive with a smaller alias that moves it
  * to another hub). Per micro-batch the linker therefore:
  *
  *   1. finds the TOUCHED hubs (the batch's hubs plus the prior hubs of
  *      its recurring keys) and the prior entities in them — one
  *      semi-join against the accumulated entity table, entity-vocab
  *      bounded, never corpus bounded;
  *   2. re-runs CC on touched + batch entities ONLY (every touched hub
  *      group enters whole, so the representative election sees all of
  *      its members);
  *   3. unions the untouched remainder of the previous canonical map (an
  *      entity-key anti-join) — bit-identical to a full re-link (the
  *      spec proves stream==batch);
  *   4. rebuilds only the triples whose subject OR object component was
  *      touched (their source predictions re-joined against the new
  *      canonical map), keeps the rest of the previous triple table
  *      as-is, and swaps the union into `workDir/triples`.
  *
  * The first batch takes the same path: no prior state is empty prior
  * state.
  *
  * Per-batch cost is therefore: one id-width columnar scan of the
  * accumulated extract table (to fetch predictions touching touched
  * components — parquet column pruning reads no text, which never
  * leaves the extract stage anyway), plus CC + joins bounded by the
  * touched components and the batch, NOT by the accumulated corpus.
  * The previous O(total)-re-link-per-trigger behavior (quadratic
  * cumulative for a long-running stream) is gone; per-batch metrics
  * (`state/batch_N/metrics.json`) record `cc_input_entities` vs
  * `total_entities` so the bound is auditable per trigger.
  *
  * Link state lives in batchId-versioned dirs (`state/batch_N`), each
  * holding the accumulated entity table, canonical map and triple table
  * plus a `_COMMIT` marker written last. A replayed batch N rebuilds
  * from state N-1 (still present — only states older than N-1 are
  * pruned) and overwrites state N with identical content, so the
  * at-least-once contract holds for the linker too.
  */
object StreamingExtract {

  /** The per-doc extract stream: predictions + entity rows as a
    * streaming Dataset (one narrow pass, `isStreaming == true`). */
  def extractStream(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)]): Dataset[Pipeline.DocExtract] =
    Pipeline.extract(spark, raw, gazette, keepNegatives = false)

  /** End-to-end streaming sink: per micro-batch, append the batch's
    * extract output under `workDir/extract_stream`, then incrementally
    * update the canonical map + `workDir/triples` (overwrite-swap so
    * readers never see a torn table). Returns the started query;
    * callers own its lifecycle (`processAllAvailable`/`stop`). */
  def runToTriples(spark: SparkSession, raw: Dataset[RawDoc],
      gazette: Seq[(String, String)], workDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      icebergTable: Option[String] = None,
      compactEvery: Int = 16): StreamingQuery = {
    val extractDir = s"$workDir/extract_stream"
    // fail fast on the pre-batch-dir layout (flat parquet files directly
    // under extract_stream): the committed source offsets would skip
    // those docs while the batch-dir read ignores their rows — silent
    // data loss. Move the files into a batch_* dir (or re-ingest into a
    // fresh workDir) before resuming.
    require(Fs.listFiles(extractDir, "part-").isEmpty,
      s"$extractDir holds flat (pre-batch-layout) parquet files; move " +
        "them into a batch_* subdirectory or re-ingest into a fresh " +
        "workDir before resuming")
    extractStream(spark, raw, gazette).writeStream
      .option("checkpointLocation", s"$workDir/_stream_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Pipeline.DocExtract], batchId: Long) =>
        // IDEMPOTENT batch sink: foreachBatch is at-least-once (a crash
        // between the data write and the engine's commit-log entry
        // replays the batch), so each batch OVERWRITES its own
        // batchId-named dir instead of appending to a shared one —
        // a replay rewrites identical content, never duplicates docs
        Checkpoint.write(batch, extractDir, batchId, SaveMode.Overwrite)
        incrementalLink(batch.sparkSession, workDir, batchId, icebergTable,
          compactEvery)
      }
      .start()
  }

  /** One incremental link step over the just-written extract batch.
    * Reads the batch back from its parquet dir (not the streaming
    * Dataset — deterministic on replay) and the previous committed
    * state; writes state `batch_<batchId>` and swaps the updated triple
    * table into `workDir/triples`. */
  private[graft] def incrementalLink(spark: SparkSession, workDir: String,
      batchId: Long, icebergTable: Option[String] = None,
      compactEvery: Int = 16): Unit = {
    import spark.implicits._
    val extractDir = s"$workDir/extract_stream"
    val stateRoot = s"$workDir/state"
    val cur = s"$stateRoot/${Checkpoint.batchName(batchId)}"
    // previous committed state: strictly earlier than THIS batch — a
    // crashed attempt at this batchId may have left a partial (or even
    // committed) state dir, which a replay must rebuild, never read.
    // Indices compare as numbers: batch_100000000 sorts after
    // batch_99999999, which a name comparison gets wrong
    val states = Checkpoint.indexed(stateRoot)
    val prev = states
      .filter { case (i, d) => i < batchId && Fs.exists(s"$d/_COMMIT") }
      .lastOption
    val prevDir = prev.map(_._2)

    // the step frees exactly what it cached (not catalog-wide
    // clearCache, nor the global tracked queue — the enclosing session
    // may hold caches other callers own), also when it fails
    Caches.scoped { scope =>
      val batchExtract = spark.read.parquet(
        s"$extractDir/${Checkpoint.batchName(batchId)}")
        .as[Pipeline.DocExtract]
      val batchEnts = scope.persist(Pipeline.dedupeEntities(
        batchExtract.flatMap(_.entities).toDF()))
      val batchPreds = batchExtract.flatMap(_.predictions).toDF()
        .filter($"answer")
      // no prior state is EMPTY prior state: the first batch links
      // through the same steps, over empty tables
      def prior(table: String, empty: => DataFrame): DataFrame =
        prevDir.fold(empty)(p => spark.read.parquet(s"$p/$table"))
      val prevEnts = scope.persist(
        prior("entities", Seq.empty[Pipeline.EntityRow].toDF()))
      val prevCanon = scope.persist(prior("canonical",
        Seq.empty[(String, String)].toDF("entity_key", "canonical")))
      val prevTriples = prior("triples",
        Seq.empty[(String, String, String, String)]
          .toDF("subj", "pred", "obj", "evidence_id"))

      // 1. touched components. Every component is exactly one CC hub
      //    group ([[Canonicalize.hubExpr]]), so a batch touches the hubs
      //    of its own entities PLUS the prior hubs of entity keys that
      //    recur in the batch. The second leg is NOT redundant: coref
      //    repointing can attach a form-disjoint, lexicographically
      //    smaller alias to an existing key (e.g. a created anaphora
      //    mention on a gazette canonical), and dedupeEntities'
      //    min(alias) then REPLACES the key's form set — without the
      //    key-identity leg the key's prior component reads as
      //    untouched, newCanon holds the key twice (sub-CC + untouched
      //    remainder) and the alias-min's split/re-merge never applies,
      //    breaking the bit-identical-to-full-re-link guarantee. Both
      //    sides entity-vocab bounded.
      val touchedHubs = batchEnts.select(Canonicalize.hubExpr.as("hub"))
        .unionByName(prevEnts
          .join(batchEnts.select($"entity_key"), Seq("entity_key"),
            "leftsemi")
          .select(Canonicalize.hubExpr.as("hub")))
        .distinct()
      // every entity of a touched component (the CC re-run needs the
      // full component, or the representative election would forget
      // members)
      val touchedEnts = scope.persist(prevEnts
        .join(touchedHubs, Canonicalize.hubExpr === touchedHubs("hub"),
          "leftsemi"))
      val touchedKeys = touchedEnts.select($"entity_key")
      val touchedComps = scope.persist(prevCanon
        .join(touchedKeys, Seq("entity_key"), "leftsemi")
        .select($"canonical").distinct())
      // 2. CC over touched + batch only
      val ccInput = scope.persist(Pipeline.dedupeEntities(
        touchedEnts.unionByName(batchEnts)))
      val subCanon = Canonicalize.components(spark, ccInput)
      // 3. untouched remainder keeps its canonical verbatim
      val newCanon = scope.persist(subCanon.unionByName(
        prevCanon.join(touchedKeys, Seq("entity_key"), "left_anti")
          .select($"entity_key", $"canonical")))
      // the re-linked key set: the touched prior canonicals plus the
      // canonicals the sub-CC produced (newCanon's rows for ccInput's
      // keys, so CC does not run twice). Every rebuilt row has its subj
      // or obj in it, and every prior canonical in it is touched, so the
      // parquet keep below and the Iceberg DELETE replace exactly the
      // rows that step 4 rebuilds
      val relinked = scope.persist(touchedComps.unionByName(
        newCanon.join(ccInput.select($"entity_key"), Seq("entity_key"),
          "leftsemi").select($"canonical")).distinct())
      // 4. triples: keep rows of untouched components; rebuild rows
      //    whose subject or object component was re-linked, from their
      //    source predictions (id-width columnar scan of the
      //    accumulated extract — text never lives there)
      val keep = prevTriples
        .join(relinked.withColumnRenamed("canonical", "subj"),
          Seq("subj"), "left_anti")
        .join(relinked.withColumnRenamed("canonical", "obj"),
          Seq("obj"), "left_anti")
      val oldDirs = Checkpoint.liveBefore(extractDir, batchId)
      val touchedOldPreds =
        if (oldDirs.isEmpty) batchPreds.limit(0)
        else {
          val oldPreds = spark.read.parquet(oldDirs: _*)
            .as[Pipeline.DocExtract]
            .flatMap(_.predictions).toDF().filter($"answer")
          // OR-semi-join (left OR right key touched): two semi joins +
          // distinct — prediction rows are value-identical duplicates
          // when both sides match, so distinct is exact
          oldPreds.join(touchedKeys.withColumnRenamed("entity_key", "left_key"),
              Seq("left_key"), "leftsemi")
            .unionByName(oldPreds.join(touchedKeys
              .withColumnRenamed("entity_key", "right_key"),
              Seq("right_key"), "leftsemi"))
            .distinct()
        }
      val rebuilt = Pipeline.triplesOf(
        batchPreds.unionByName(touchedOldPreds), newCanon)
      val allEnts = Pipeline.dedupeEntities(prevEnts.unionByName(batchEnts))

      // write state (overwrite: a replayed batch rewrites identical
      // content), then the _COMMIT marker LAST — a crash mid-write leaves
      // an uncommitted dir the next attempt ignores
      allEnts.write.mode("overwrite").parquet(s"$cur/entities")
      newCanon.write.mode("overwrite").parquet(s"$cur/canonical")
      val persistedTriples = scope.persist(keep.unionByName(rebuilt))
      persistedTriples.write.mode("overwrite").parquet(s"$cur/triples")
      val totalEnts = spark.read.parquet(s"$cur/entities").count()
      Fs.writeString(s"$cur/metrics.json",
        s"""{"batch_id":$batchId,"cc_input_entities":${ccInput.count()},""" +
          s""""touched_components":${touchedComps.count()},""" +
          s""""total_entities":$totalEnts,""" +
          s""""incremental":${if (prevDir.isDefined) 1 else 0}}""")
      Fs.writeString(s"$cur/_COMMIT", "")
      // visible table: swap a copy in, so readers never see a torn dir and
      // the immutable state copy stays pristine for the next batch/replay
      val triplesDir = s"$workDir/triples"
      val tmp = triplesDir + "_tmp"
      persistedTriples.write.mode("overwrite").parquet(tmp)
      Fs.swapInto(tmp, triplesDir)
      // optional Iceberg twin of the visible table: first batch = full
      // snapshot write; later batches = re-linked-component DELETE + APPEND
      // (NOT createOrReplace — replacing the whole table per micro-batch
      // would make the incremental link pointless on the catalog path).
      // Guarded by the runtime probe so the same code is a no-op without
      // the Iceberg jars on the classpath and live on a real cluster.
      icebergTable
        .filter(_ => graft.sources.IcebergTripleSink.available)
        .foreach { tbl =>
          val sink = new graft.sources.IcebergTripleSink
          if (prevDir.isEmpty)
            sink.write(spark, persistedTriples, tbl, buckets = 32,
              metrics = Map("batch_id" -> batchId))
          else sink.writeIncremental(spark, rebuilt, relinked, tbl)
        }
      // prune states older than the one a replay of THIS batch would need
      prev.foreach { case (p, _) =>
        states.collect { case (i, d) if i < p => d }
          .foreach(Fs.deleteRecursive)
      }
      // keep the extract layout bounded: fold accumulated batch dirs into
      // one compacted dir every `compactEvery` batches (a replay of THIS
      // batch is untouched — only strictly-earlier dirs compact)
      Checkpoint.compact(spark, extractDir, batchId, compactEvery)
    }
  }
}

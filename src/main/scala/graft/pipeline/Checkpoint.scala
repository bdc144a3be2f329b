package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The per-doc extract store: the one owner of the `batch_*` layout that
  * both the checkpointed batch run (`workDir/extract`, see
  * [[Pipeline.runCheckpointed]]) and the stream (`workDir/extract_stream`,
  * see [[graft.streaming.StreamingExtract]]) commit, list, read and
  * compact their `DocExtract` batches through (north rule: "resumable
  * from checkpoint with per-partition lineage + metrics").
  *
  * Replaces the reference's `*_done_at` timestamps + "lacking" SQL filter
  * (`/root/reference/iepy/data/db.py:94-114`, SURVEY §4.1): presence of a
  * doc in the live view IS done-ness. A batch resume extracts only the
  * docs absent from it (left-anti join) and writes them as a NEW batch;
  * finished work is never recomputed.
  *
  * Layout and crash-safety contract (object-store friendly):
  *  - a dir is `batch_<index>` (tier 0) or a size-tiered compact
  *    `batch_<index>_c<tier>` covering batches up to `index`. Indices
  *    compare as numbers, so dirs of different digit widths coexist;
  *  - ONE commit rule for every tier: a dir counts as committed iff
  *    Spark's job-commit marker (`_SUCCESS`) exists. Task files left by
  *    a crashed job live in a marker-less dir that no reader lists;
  *  - batch indices are never reused ([[nextIndex]] is the max over ALL
  *    dirs, committed or not), so garbage from a crash can be ignored
  *    or swept lazily.
  * All probes/listings go through the Hadoop FileSystem API ([[Fs]]),
  * so the same code runs on HDFS/S3A, not just local disk.
  *
  * Each appended batch also appends a `_manifest` JSON record with
  * per-partition row counts + key ranges — the lineage record the north
  * rule asks for.
  */
object Checkpoint {

  /** One extract dir, parsed once from its name. */
  private final case class Batch(path: String, index: Long, tier: Int)

  private val Name = """batch_(\d+)(?:_c(\d+))?""".r

  def batchName(index: Long): String = f"batch_$index%08d"

  /** Every extract dir under `root`, committed or not. */
  private def all(root: String): Seq[Batch] =
    Fs.listDirs(root, "batch_").flatMap { p =>
      p.substring(p.lastIndexOf('/') + 1) match {
        case Name(i, t) => Some(Batch(p, i.toLong, Option(t).fold(0)(_.toInt)))
        case _ => None
      }
    }

  /** Every `batch_*` dir under `root` as (index, path), committed or
    * not, sorted by index: the stream's link-state dirs are listed
    * through the same numeric name parser as the extract dirs. */
  private[graft] def indexed(root: String): Seq[(Long, String)] =
    all(root).map(b => (b.index, b.path)).sortBy(_._1)

  private def committedBefore(root: String, index: Long): Seq[Batch] =
    all(root).filter(b => b.index < index && Fs.hasSuccess(b.path))

  /** The live view of `committed`, sorted by index. Compacts are
    * size-tiered (see [[compact]]): tier T+1 dirs fold `every`
    * CONSECUTIVE OLDEST tier-T units, so at any moment the committed
    * tiers partition the batch sequence into a prefix of high tiers and
    * a tail of lower ones. The live view is therefore: every committed
    * dir NOT superseded by a committed HIGHER-tier compact whose index
    * reaches it (a crash between a compact's commit and the deletion of
    * its inputs leaves both on disk; reading both would double-count
    * rows). */
  private def liveView(committed: Seq[Batch]): Seq[Batch] =
    committed.filterNot(d =>
      committed.exists(c => c.tier > d.tier && c.index >= d.index))
      .sortBy(_.index)

  /** The live dirs of `root` strictly BEFORE batch `index`. */
  def liveBefore(root: String, index: Long): Seq[String] =
    liveView(committedBefore(root, index)).map(_.path)

  /** All live dirs of `root`. */
  def live(root: String): Seq[String] = liveBefore(root, Long.MaxValue)

  /** The next unused index: max over all dirs, committed or not, + 1. */
  private def nextIndex(root: String): Long =
    all(root).map(_.index).maxOption.fold(0L)(_ + 1)

  /** Writes `rows` as batch `index` of `root`; Spark's job commit writes
    * its `_SUCCESS`, the commit marker. Returns the batch dir. */
  def write(rows: Dataset[_], root: String, index: Long,
      mode: SaveMode): String = {
    val path = s"$root/${batchName(index)}"
    rows.write.mode(mode).parquet(path)
    path
  }

  /** Appends `rows` to `root` as a new batch (never overwriting one),
    * then its lineage record to `manifestDir`. Returns the batch dir. */
  def append(spark: SparkSession, root: String, manifestDir: String,
      rows: DataFrame): String = {
    val index = nextIndex(root)
    val path = write(rows, root, index, SaveMode.ErrorIfExists)
    writeManifest(spark, manifestDir, index, path)
    path
  }

  /** Per-batch, per-partition lineage: row count + key range. */
  private def writeManifest(spark: SparkSession, manifestDir: String,
      index: Long, path: String): Unit =
    spark.read.parquet(path)
      .groupBy(spark_partition_id().as("partition"))
      .agg(count(lit(1)).as("rows"),
        min(col("doc_id")).as("min_key"),
        max(col("doc_id")).as("max_key"))
      .withColumn("stage", lit("extract"))
      .withColumn("batch", lit(index))
      .coalesce(1).write.mode("append").json(manifestDir)

  /** Size-tiered compaction of `root`: whenever `every` units of one
    * tier exist, the OLDEST `every` fold into one unit of the next tier
    * (`batch_<index>_c<tier+1>`, index = the fold's max covered batch),
    * cascading upward until no tier is full. At real trigger rates the
    * one-dir-per-batch layout is a small-files bomb on an object store
    * (every incremental link re-lists and re-opens them); tiering keeps
    * the dir count at O(every * log_every(N)) while each row is
    * rewritten only when it climbs a tier — total rewrite O(N log N)
    * bytes over a stream's lifetime (folding the whole prefix every
    * `every` batches would rewrite O(N^2 / every)).
    *
    * Crash safety, per fold: (1) the compacted dir is written, (2) its
    * job commit writes `_SUCCESS`, (3) the folded inputs are deleted
    * last. A crash before (2) leaves an ignored uncommitted dir that the
    * same deterministic fold overwrites on the next call; a crash
    * between (2) and (3) leaves duplicates on disk that the live view's
    * supersession rule already excludes — the cleanup sweep here
    * finishes the deletion. Only dirs strictly before batch `before`
    * are compacted: a stream's current batch may still be replayed and
    * must stay individually overwritable. The live view is listed once
    * and then kept in memory: each fold replaces its inputs with its
    * target. */
  def compact(spark: SparkSession, root: String, before: Long,
      every: Int): Unit = {
    if (every <= 0) return
    // finish any interrupted cleanup first (superseded leftovers linger
    // only until the next call); an uncommitted fold is not in
    // `committed`, so it stays for the same fold to overwrite
    val committed = committedBefore(root, before)
    val kept = liveView(committed)
    committed.filterNot(kept.contains).foreach(d => Fs.deleteRecursive(d.path))
    // lowest full tier folds first; `view` is index-sorted, and so is
    // each tier's group
    @annotation.tailrec
    def foldFrom(view: Seq[Batch]): Unit =
      view.groupBy(_.tier).toSeq.sortBy(_._1).find(_._2.size >= every) match {
        case None =>
        case Some((t, ds)) =>
          val fold = ds.take(every)
          val target = Batch(
            s"$root/${batchName(fold.last.index)}_c${t + 1}",
            fold.last.index, t + 1)
          spark.read.parquet(fold.map(_.path): _*)
            .write.mode("overwrite").parquet(target.path)
          fold.foreach(d => Fs.deleteRecursive(d.path))
          foldFrom(liveView(target +: view.filterNot(fold.contains)))
      }
    foldFrom(kept)
  }
}

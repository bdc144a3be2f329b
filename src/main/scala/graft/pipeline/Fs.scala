package graft.pipeline

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Thin wrapper over the Hadoop FileSystem API so every persistence
  * touchpoint (stage checkpoints, label-table swaps, classifier bundles,
  * prediction sinks) works against any Hadoop-supported store — HDFS,
  * S3A, local file:// — not just the driver's local disk. java.io.File
  * probes and renameTo() are correct only single-node; the 1000-executor
  * deployments this library targets have no shared local filesystem.
  *
  * Paths are plain strings; an unqualified path resolves against the
  * cluster's default FS (fs.defaultFS), exactly like DataFrame reader/
  * writer paths, so checkpoint tables and their markers always live on
  * the same store Spark writes to.
  */
object Fs {

  private def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def of(path: String): FileSystem = new Path(path).getFileSystem(conf)

  def exists(path: String): Boolean = of(path).exists(new Path(path))

  def mkdirs(path: String): Unit = of(path).mkdirs(new Path(path))

  def deleteRecursive(path: String): Unit = {
    val fs = of(path)
    val p = new Path(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Overwrite-swap `tmp` into `target`, crash-safe: rename the current
    * target aside (`<target>_old`), rename tmp into place, then delete
    * the old copy. A crash at ANY point leaves a recoverable table — the
    * old data survives as `target` or `target_old` until the new data is
    * in place (the round-2 delete-then-rename had a window where neither
    * existed). A stale `_old` from a previous crash is cleared first; if
    * `target` is missing but `_old` exists, the old copy is restored
    * before the swap logic so the aside-rename is always from live data.
    * Rename is atomic on HDFS/local; on object stores it is a copy —
    * still safe here because swapped tables are read only between batch
    * rounds, never concurrently with the swap. */
  def swapInto(tmp: String, target: String): Unit = {
    recoverSwap(target)
    val fs = of(target)
    val tgt = new Path(target)
    val old = new Path(target + "_old")
    if (fs.exists(old)) fs.delete(old, true)
    val hadTarget = fs.exists(tgt)
    if (hadTarget)
      require(fs.rename(tgt, old), s"rename $target -> $old failed")
    require(fs.rename(new Path(tmp), tgt),
      s"rename $tmp -> $target failed")
    if (hadTarget) fs.delete(old, true)
  }

  /** Restore a table lost to a crash mid-[[swapInto]]: if `target` is
    * missing but `<target>_old` exists, rename it back (throws if that
    * rename fails). Returns true if a restore happened. */
  def recoverSwap(target: String): Boolean = {
    val fs = of(target)
    val tgt = new Path(target)
    val old = new Path(target + "_old")
    if (!fs.exists(tgt) && fs.exists(old)) {
      require(fs.rename(old, tgt), s"crash recovery $old -> $target failed")
      true
    } else false
  }

  /** Child directories of `parent` whose name starts with `prefix`,
    * sorted by name (empty if parent missing). */
  def listDirs(parent: String, prefix: String): Seq[String] = {
    val fs = of(parent)
    val p = new Path(parent)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.toString).sorted
  }

  /** Plain files (not dirs) directly under `parent` whose name starts
    * with `prefix`, sorted (empty if parent missing). */
  def listFiles(parent: String, prefix: String): Seq[String] = {
    val fs = of(parent)
    val p = new Path(parent)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.toString).sorted
  }

  /** True iff the dir carries Spark's job-commit marker — i.e. the write
    * job that produced it ran to completion (task files of a crashed job
    * never get one). */
  def hasSuccess(dir: String): Boolean = exists(s"$dir/_SUCCESS")

  def writeString(path: String, s: String): Unit = {
    val out = of(path).create(new Path(path), true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readString(path: String): String = {
    val in = of(path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}

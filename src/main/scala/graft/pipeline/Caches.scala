package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of cache lifetime: every persist and local checkpoint
  * in the library goes through a [[Caches.Scope]], which frees exactly
  * what it recorded.
  *
  * Contract: a persisted entry may be released early — it is recomputed,
  * never wrong. A checkpoint entry must not be read after release — its
  * lineage is truncated, so freed blocks cannot be recomputed.
  *
  * Call-local tables use [[scoped]]; a pipeline run keeps its scope in
  * its `RunHandle`. An operator whose lazy result reads a table it
  * persisted (the LSH band table, the hashed token-set dimension,
  * `Pipeline.run`'s tables) wraps it in [[tracked]], the JVM-global
  * scope that the bench harness and `Verify` free with [[release]]
  * between queries.
  */
object Caches {

  /** Thread-safe; [[release]] never blocks and may be called again (it
    * then frees what was recorded since). */
  final class Scope {
    private val frees = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

    def persist[T](ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist()
      frees.add(() => p.unpersist(false))
      p
    }

    /** An eager `localCheckpoint()`: truncates the logical plan that each
      * action over `df` would otherwise re-analyze. */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      cp match {
        case d: classic.Dataset[_] => d.queryExecution.logical match {
          case r: LogicalRDD => frees.add(() => r.rdd.unpersist(blocking = false))
          case _ => ()
        }
        case _ => ()
      }
      cp
    }

    def release(): Unit = {
      var f = frees.poll()
      while (f != null) { f(); f = frees.poll() }
    }
  }

  /** Runs `body` over a fresh scope, released when `body` returns or
    * throws; the result must not be a lazy plan over its checkpoints. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.release()
  }

  private[graft] val global = new Scope

  def tracked(df: DataFrame): DataFrame = global.persist(df)

  def release(): Unit = global.release()
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for operator-internal persisted intermediates.
  *
  * Some operators persist a derived table that their (lazy) result keeps
  * referencing — e.g. the LSH band table self-joined for candidate
  * pairs, or the hashed token-set dimension joined twice. The operator
  * cannot unpersist it before returning (the caller has not acted yet),
  * and the caller cannot either (the table is internal). Left alone,
  * each call leaks one cached table per long-lived session.
  *
  * Contract: operators wrap such persists in [[tracked]]; any point that
  * knows the results are materialized (a pipeline run handle, a bench
  * harness between timed queries, a driver round boundary) calls
  * [[release]]. Releasing early is always safe — an unpersisted
  * intermediate is recomputed, never wrong.
  */
object Caches {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def tracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    registered.add(p)
    p
  }

  def release(): Unit = {
    var df = registered.poll()
    while (df != null) { df.unpersist(false); df = registered.poll() }
  }

  /** Runs `body` over an eager `localCheckpoint()` of `df` and frees the
    * checkpoint's blocks when `body` returns or throws. For a table that
    * many actions read within one call (the checkpoint truncates the
    * logical plan each action re-analyzes). `body`'s result must not be
    * a lazy plan over the checkpoint: once freed, the blocks cannot be
    * recomputed. */
  def checkpointed[T](df: DataFrame)(body: DataFrame => T): T = {
    val cp = df.localCheckpoint()
    try body(cp)
    finally cp match {
      case d: classic.Dataset[_] => d.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
      case _ => ()
    }
  }
}

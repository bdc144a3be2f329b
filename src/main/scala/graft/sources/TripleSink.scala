package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Fs

/** The materialization seam for the triple table (north rule:
  * "partitioned Iceberg triple tables bucketed by subject hash").
  *
  * Two implementations behind one interface:
  *
  *  - [[IcebergTripleSink]] — the north-rule target, written entirely
  *    against Spark's catalog-agnostic DataFrameWriterV2 API
  *    (`writeTo(...).partitionedBy(bucket(32, subj), pred)`), so it
  *    compiles with zero Iceberg dependency. It activates only when the
  *    Iceberg Spark runtime is on the classpath ([[IcebergTripleSink
  *    .available]], a reflective probe): this container ships no
  *    Iceberg jars (offline resolver), so here the probe reports
  *    unavailable and [[TripleSink.resolve]] falls back. On a cluster
  *    with `iceberg-spark-runtime` + a configured catalog, the SAME
  *    pipeline code lands triples in a bucketed Iceberg table with
  *    snapshot isolation, schema evolution, and partition-pruned reads
  *    — and the swap-dir upserts in [[Sources]] map to `MERGE INTO`
  *    (see PLANS.md "Iceberg mapping" for the statement-by-statement
  *    correspondence).
  *
  *  - [[ParquetTripleSink]] — the plain-parquet analog used everywhere
  *    in this sandbox: partitionBy(pred) + repartition(hash(subj))
  *    buckets (one file per subject bucket, so subject-keyed readers
  *    prune files the way Iceberg's bucket transform prunes manifests),
  *    plus a `_manifest` lineage dir standing in for Iceberg snapshot
  *    metadata.
  */
trait TripleSink {
  /** Materialize `triples` [subj, pred, obj, evidence_id] to `target`
    * (a directory for the parquet sink, a catalog table identifier for
    * Iceberg), bucketed `buckets` ways by subject hash and partitioned
    * by predicate. `metrics` are run-level lineage counters. */
  def write(spark: SparkSession, triples: DataFrame, target: String,
      buckets: Int, metrics: Map[String, Long]): Unit
}

object TripleSink {
  /** The best sink the runtime can support: Iceberg when its Spark
    * runtime is present, the parquet bucket-analog otherwise. */
  def resolve(): TripleSink = resolveFor(IcebergTripleSink.available)

  /** [[resolve]] with the probe result injected — the seam the spec
    * exercises (no Iceberg jars exist in this sandbox, so the live
    * probe can only ever report false here). */
  private[graft] def resolveFor(icebergAvailable: Boolean): TripleSink =
    if (icebergAvailable) new IcebergTripleSink
    else ParquetTripleSink
}

/** North-rule sink. Compiles against Spark's DataFrameWriterV2 only;
  * requires `iceberg-spark-runtime` + a catalog conf at runtime. */
final class IcebergTripleSink extends TripleSink {
  override def write(spark: SparkSession, triples: DataFrame,
      target: String, buckets: Int, metrics: Map[String, Long]): Unit = {
    // bucket() is Spark's V2 partition-transform function: Iceberg lays
    // the table out exactly like the parquet analog's hash(subj) files,
    // but with manifest-level pruning and snapshot isolation on top
    triples.writeTo(target)
      .using("iceberg")
      .partitionedBy(bucket(buckets, col("subj")), col("pred"))
      .createOrReplace()
    // run-level metrics ride the snapshot: set as table properties so
    // they version with the data (the parquet analog's metrics.json)
    metrics.foreach { case (k, v) =>
      spark.sql(s"ALTER TABLE $target SET TBLPROPERTIES " +
        s"('graft.metrics.$k' = '$v')")
    }
  }

  /** Incremental commit for the streaming / checkpointed paths — the
    * Iceberg analog of the parquet visible-dir swap (and of the
    * reference's update_mode upsert, `/root/reference/iepy/utils.py:92-135`):
    * instead of replacing the whole table per micro-batch
    * ([[write]]'s createOrReplace, correct only for full batch
    * materialization), replace ONLY the rows of the components the
    * batch re-linked — a DELETE keyed on canonical subject/object
    * membership, then an APPEND of the rebuilt rows.
    *
    * `relinked` [canonical: String] is the key set the parquet path's
    * keep rule drops too (see `StreamingExtract.incrementalLink`): the
    * touched PRIOR canonicals plus every canonical the batch's CC re-run
    * produced, new ones included. Every rebuilt row has its subj or obj
    * in it, so an at-least-once replay (crash after INSERT, before the
    * streaming checkpoint commit) deletes the rows the first attempt
    * appended and converges instead of duplicating them. Rows of
    * untouched components stay, even when a rebuilt row points into
    * one: a key set taken from the rebuilt rows' own subj/obj would
    * delete such a component's rows without re-appending them. On
    * Iceberg each statement is one isolated snapshot; readers between
    * the two see a table missing only re-linked rows, never a torn
    * file set (the same guarantee the parquet path gets from its swap
    * dir).
    *
    * `rebuilt` holds the re-derived triples [subj, pred, obj,
    * evidence_id]. */
  def writeIncremental(spark: SparkSession, rebuilt: DataFrame,
      relinked: DataFrame, target: String): Unit = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val kv = s"graft_relinked_$tag"
    val rv = s"graft_rebuilt_$tag"
    relinked.createOrReplaceTempView(kv)
    rebuilt.createOrReplaceTempView(rv)
    try {
      spark.sql(IcebergTripleSink.deleteStatement(target, kv))
      spark.sql(
        s"INSERT INTO $target SELECT subj, pred, obj, evidence_id FROM $rv")
    } finally {
      spark.catalog.dropTempView(kv)
      spark.catalog.dropTempView(rv)
    }
  }
}

object IcebergTripleSink {
  /** True iff the Iceberg Spark runtime is on the classpath. Reflective
    * so this module has no compile-time Iceberg dependency. */
  lazy val available: Boolean = probeAvailable(Class.forName)

  /** The probe with the class loader injected — lets the spec execute
    * BOTH branches in a sandbox that ships no Iceberg jars (and pins
    * the probed class name, so a typo can't silently disable the
    * Iceberg path forever). */
  private[graft] def probeAvailable(load: String => Class[_]): Boolean =
    try { load("org.apache.iceberg.spark.SparkCatalog"); true }
    catch { case _: Throwable => false }

  /** The component-space DELETE of [[IcebergTripleSink.writeIncremental]]
    * (extracted so the statement shape is spec-assertable without an
    * executing Iceberg catalog: DELETE + IN-subqueries run through
    * Iceberg's row-level operations, which no fake can emulate). Deletes
    * every row whose subj or obj is in the re-linked key view. */
  private[graft] def deleteStatement(target: String,
      relinkedView: String): String = {
    val keys = s"SELECT canonical FROM $relinkedView"
    s"DELETE FROM $target WHERE subj IN ($keys) OR obj IN ($keys)"
  }
}

/** Plain-parquet bucket analog (every property of the north rule except
  * snapshots/schema evolution, which need a table format). */
object ParquetTripleSink extends TripleSink {
  override def write(spark: SparkSession, triples: DataFrame,
      target: String, buckets: Int, metrics: Map[String, Long]): Unit = {
    import spark.implicits._
    val t = triples.repartition(buckets, hash($"subj"))
      .sortWithinPartitions($"subj", $"pred", $"obj")
    t.write.mode("overwrite").partitionBy("pred").parquet(s"$target/triples")
    val manifest = spark.read.parquet(s"$target/triples")
      .groupBy($"pred", spark_partition_id().as("partition"))
      .agg(count(lit(1)).as("triples"),
        approx_count_distinct($"subj").as("distinct_subj"))
    manifest.coalesce(1).write.mode("overwrite")
      .json(s"$target/_manifest")
    if (metrics.nonEmpty)
      Fs.writeString(s"$target/_manifest/metrics.json",
        metrics.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}"))
  }
}

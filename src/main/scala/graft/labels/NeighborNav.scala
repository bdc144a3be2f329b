package graft.labels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Caches

/** Q8 — labeled-neighbor navigation, ported from
  * `Relation.labeled_neighbor` (`/root/reference/iepy/data/models.py:511-566`).
  *
  * The reference walks the id-ordered set of segments that carry labeled
  * evidence for the relation (labels with judge AND label non-null —
  * note it does NOT filter labeled_by_machine here, so machine labels
  * count; optionally restricted to one judge) and returns the
  * previous/next id with these edge conventions:
  *   - first item's prev = its own id; last item's next = its own id;
  *   - an id NOT in the labeled set navigates to the LAST labeled id;
  *   - empty labeled set -> None.
  *
  * [[nav]] is the batch recast: the full navigation table (one row per
  * labeled segment with prev_id/next_id), an unpartitioned window over
  * the labeled set — safe because labeled data is human-annotation-
  * bounded, never corpus-sized (same argument as the C7 pooling).
  * [[neighbor]] reproduces the reference's single-object call exactly.
  */
object NeighborNav {

  /** Distinct ids of segments (from the kind-filtered `segments` set)
    * with at least one labeled evidence. */
  def labeledSegments(
      segments: DataFrame,
      evidences: DataFrame,
      labels: DataFrame,
      judge: Option[String] = None): DataFrame = {
    val base = labels
      .filter(col("judge").isNotNull && col("label").isNotNull)
    val judged = judge.fold(base)(j => base.filter(col("judge") === j))
    evidences
      .join(judged.select(col("evidence_id")), Seq("evidence_id"),
        "left_semi")
      .select(col("segment_id")).distinct()
      .join(segments, Seq("segment_id"), "left_semi")
  }

  /** Navigation table: [segment_id, prev_id, next_id] over the labeled
    * set, id-ordered, with the reference's own-id edge conventions. */
  def nav(
      segments: DataFrame,
      evidences: DataFrame,
      labels: DataFrame,
      judge: Option[String] = None): DataFrame = {
    val w = Window.orderBy(col("segment_id"))
    labeledSegments(segments, evidences, labels, judge)
      .select(col("segment_id"),
        coalesce(lag(col("segment_id"), 1).over(w), col("segment_id"))
          .as("prev_id"),
        coalesce(lead(col("segment_id"), 1).over(w), col("segment_id"))
          .as("next_id"))
  }

  /** The reference's single pick (`models.py:546-566`): prev/next of
    * `objId` in the labeled set; not-in-list -> last labeled id;
    * empty -> None.
    *
    * Distributed form — the labeled set never reaches the driver: one
    * aggregation row decides emptiness / membership / the last id, and
    * the pick itself is a bounded max/min over ids strictly before/after
    * `objId` (the window-free equivalent of a limit-2 probe around it).
    * Two small jobs total over an already annotation-bounded set, vs the
    * round-2 full collect. */
  def neighbor(
      segments: DataFrame,
      evidences: DataFrame,
      labels: DataFrame,
      objId: Long,
      back: Boolean,
      judge: Option[String] = None): Option[Long] = Caches.scoped { scope =>
    val ls = scope.persist(labeledSegments(segments, evidences, labels, judge))
    val head = ls.agg(
      count(lit(1)).as("n"),
      max(col("segment_id")).as("last"),
      max(when(col("segment_id") === objId, lit(1)).otherwise(lit(0)))
        .as("present")).head()
    if (head.getLong(0) == 0L) None
    else if (head.getInt(2) == 0) Some(head.getLong(1))
    else {
      val probe =
        if (back) ls.where(col("segment_id") < objId)
          .agg(max(col("segment_id")))
        else ls.where(col("segment_id") > objId)
          .agg(min(col("segment_id")))
      val r = probe.head()
      Some(if (r.isNullAt(0)) objId else r.getLong(0))
    }
  }
}

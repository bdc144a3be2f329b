package graft.canonical

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.pipeline.Caches
import graft.schema.Mention

/** Entity canonicalization.
  *
  * Two layers:
  *
  *  1. [[CorefMerge]] — the reference's in-document coreference merge,
  *     exact semantics (`/root/reference/iepy/preprocess/stanford_preprocess.py:365-445`),
  *     a per-document local fold (no shuffle; runs inside `mapGroups`).
  *
  *  2. [[Canonicalize.components]] — the cross-document canonicalization of
  *     the north star: connected components over alias/surface-form
  *     similarity edges. The [[Canonicalize.formsExpr]] contract makes
  *     every component exactly one (kind, folded-form) group, so the
  *     components are one algebraic `min` aggregation on that hub key —
  *     Spark's partial aggregation (map-side combine) absorbs
  *     alias-frequency skew before the shuffle — plus one join back to
  *     the entities.
  */
object Canonicalize {

  /** The case/separator fold: lowercase, then drop runs of `-`, `_` and
    * whitespace. */
  private val FoldPattern = "[-_\\s]+"

  /** The most-folded form of the `alias` column. */
  private def foldedExpr: org.apache.spark.sql.Column =
    regexp_replace(lower(col("alias")), FoldPattern, "")

  /** Normalized surface forms of an `alias` column, as a pure Catalyst
    * expression (codegen-friendly, no UDF); two entities sharing any
    * form are merged (same kind only). Forms: exact, lowercase, and a
    * case/underscore fold that unifies snake_case / camelCase /
    * kebab-case identifiers — the code-corpus analog of IEPy's
    * surface-form identity (`stanford_preprocess.py:285-304`). Only
    * [[verifyFixpoint]] explodes these edges; [[components]] and the
    * streaming linker's touch detection key on [[hubExpr]], which the
    * contract below makes equivalent.
    *
    * HARD CONTRACT for [[components]]' hub reduction: every form here
    * must be a refinement chain ENDING in the most-folded form — i.e. two
    * aliases sharing ANY form also share the folded form (exact equality
    * => lower equality => folded equality). That makes every component
    * exactly one (kind, folded-form) group. A normalizer that can CHAIN
    * (edit-distance buckets, token-prefix families, embedding buckets)
    * breaks this: components silently under-merge, which
    * `verifyConverged = true` (on in tests) catches. Such a normalizer
    * needs iterative min-propagation reintroduced into [[components]];
    * no parameter restores it. */
  private[graft] def formsExpr: org.apache.spark.sql.Column =
    array_distinct(array(col("alias"), lower(col("alias")), foldedExpr))

  /** The CC hub key: kind plus most-folded form. By the [[formsExpr]]
    * contract two entities share a form iff they share this key (a null
    * alias keys on its kind alone, as its single null form does). */
  private[graft] def hubExpr: org.apache.spark.sql.Column =
    concat_ws(" ", col("kind"), foldedExpr)

  /** Connected components over a bipartite (vertex, form) edge list.
    *
    * Input: DataFrame [entity_key: String, kind: String, alias: String].
    * Output: DataFrame [entity_key, canonical] where canonical is the
    * component representative's entity_key.
    *
    * THE HUB REDUCTION: the refinement-chain contract at [[formsExpr]]
    * (two aliases sharing ANY form also share the most-folded form —
    * fold(exact) = fold(lower) = fold(folded) = the entity's folded
    * form) makes "shares a form with" TRANSITIVE through the folded
    * form: if a~b and b~c then fold(a) = fold(b) = fold(c). A component
    * is therefore exactly a (kind, folded-form) group, and
    * min-propagation collapses to ONE algebraic min aggregation on the
    * hub plus one dimension join to map entities to their hub's winner —
    * one shuffle of (hub, init) pairs with map-side combine (hot-alias
    * skew is absorbed: CanonicalizeSkewSpec). `verifyConverged = true`
    * proves the reduction on the actual data with [[verifyFixpoint]]. */
  def components(spark: SparkSession, entities: DataFrame,
      verifyConverged: Boolean = false): DataFrame = {
    import spark.implicits._
    // The component id IS the canonical pick: aggregate the minimum of
    // struct(gaz_rank, entity_key), so gazette-born readable keys win the
    // representative election and no separate ranking join is needed.
    val gazRank =
      if (entities.columns.contains("from_gazette"))
        when(col("from_gazette"), 0).otherwise(1)
      else lit(0)
    // kind is part of the hub key: never merge across kinds (reference
    // `stanford_preprocess.py:366-374`)
    val keyed = entities.select($"entity_key", hubExpr.as("hub"),
      struct(gazRank.as("r"), $"entity_key".as("k")).as("init"))
    // byHub is component-count-sized — far below the entity table; AQE
    // broadcasts it when measured small
    val byHub = keyed.groupBy($"hub").agg(min($"init").as("component"))
    val comp = keyed.join(byHub, "hub").select($"entity_key", $"component")
    if (verifyConverged) verifyFixpoint(entities, comp)
    comp.select($"entity_key", $"component.k".as("canonical"))
  }

  /** The guard for the refinement-chain contract at [[formsExpr]]:
    * one full min-propagation round over ALL (entity, form) edges of
    * `entities` must leave `comp` [entity_key, component] unchanged, i.e.
    * every two entities sharing a form carry the same component. Any
    * orderable `component` column works. Throws IllegalArgumentException
    * otherwise. Costs one action; test/debug only. */
  private[graft] def verifyFixpoint(entities: DataFrame,
      comp: DataFrame): Unit = {
    // (entity_key, form) edges; the form key includes the kind
    val edges = entities
      .select(col("entity_key"), col("kind"), explode(formsExpr).as("f"))
      .select(col("entity_key"),
        concat_ws(" ", col("kind"), col("f")).as("form"))
    val changed = Caches.scoped { scope =>
      val frozen = scope.persist(comp)
      val byForm = edges.join(frozen, "entity_key")
        .groupBy(col("form")).agg(min(col("component")).as("fcomp"))
      edges.join(byForm, "form")
        .groupBy(col("entity_key")).agg(min(col("fcomp")).as("next"))
        .join(frozen, "entity_key")
        .where(col("next") =!= col("component")).count()
    }
    require(changed == 0,
      s"CC not converged: $changed components still moving — a " +
        "normalizer violates the refinement-chain contract " +
        "(see formsExpr)")
  }
}

/** Reference-faithful in-document coreference merge (P11). */
object CorefMerge {

  final case class CorefError(msg: String) extends Exception(msg)

  /** One coref chain: (i, j, head) token spans, representative first. */
  type Chain = Seq[(Int, Int, Int)]

  /** Entity view needed by the merge: key + kind + gazette linkage. */
  final case class Ent(key: String, kind: String, gazette: Option[String])

  /** Apply one chain to a document's mentions
    * (`stanford_preprocess.py:377-445`). Returns the updated mention list.
    *
    * - no existing occurrence at any head token -> nothing happens
    * - representants pickable only if non-anaphora; none -> nothing
    * - mixed kinds or >=2 distinct gazette items -> CorefError
    * - canonical = first NER-born (non-gazette) pickable entity, else
    *   first pickable
    * - missing chain references created as anaphora=True occurrences
    *   (phrases of >=5 tokens shrink to the head token)
    * - all occurrences of merged entities re-pointed to canonical
    */
  def applyChain(
      docId: String,
      tokens: Array[String],
      mentions: Seq[Mention],
      entityOf: String => Ent,
      chain: Chain): Seq[Mention] = {
    val byToken = mutable.Map.empty[Int, mutable.ArrayBuffer[Mention]]
    mentions.foreach { m =>
      (m.offset until m.offset_end).foreach { i =>
        byToken.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += m
      }
    }
    val entities = mutable.ArrayBuffer.empty[String]
    val pickable = mutable.ArrayBuffer.empty[String]
    val missing = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    chain.sorted.foreach { case (i, j, head) =>
      byToken.get(head) match {
        case Some(ms) if ms.nonEmpty =>
          ms.foreach { m =>
            entities += m.entity_key
            if (!m.anaphora) pickable += m.entity_key
          }
        case _ => missing += ((i, j, head))
      }
    }
    if (pickable.isEmpty) return mentions
    val ents = entities.map(entityOf)
    if (ents.map(_.kind).distinct.size != 1)
      throw CorefError(s"Cannot merge entities of different kinds")
    if (ents.flatMap(_.gazette).distinct.size > 1)
      throw CorefError(s"Cannot merge entities of different gazette items")

    val fromNer = pickable.filter(k => entityOf(k).gazette.isEmpty)
    val canonical = if (fromNer.nonEmpty) fromNer.head else pickable.head
    val canonicalEnt = entityOf(canonical)

    val created = missing.map { case (i0, j0, head) =>
      val (i, j) = if (j0 - i0 >= 5) (head, head + 1) else (i0, j0)
      Mention(docId, i, j, canonicalEnt.kind,
        tokens.slice(i, j).mkString(" "), canonical,
        from_gazette = canonicalEnt.gazette.isDefined, ner_rank = 0,
        anaphora = true)
    }.filterNot(c => mentions.exists(m =>
      m.offset == c.offset && m.offset_end == c.offset_end))

    val merged = entities.toSet - canonical
    val repointed = mentions.map { m =>
      if (merged.contains(m.entity_key)) m.copy(entity_key = canonical)
      else m
    }
    repointed ++ created
  }

  /** Apply a document's chains in order, swallowing per-chain merge
    * refusals the way the reference logs-and-continues on
    * CoreferenceError (`stanford_preprocess.py:131-133`). */
  def applyChains(
      docId: String,
      tokens: Array[String],
      mentions: Seq[Mention],
      entityOf: String => Ent,
      chains: Seq[Chain]): Seq[Mention] =
    chains.foldLeft(mentions) { (ms, ch) =>
      try applyChain(docId, tokens, ms, entityOf, ch)
      catch { case _: CorefError => ms }
    }
}

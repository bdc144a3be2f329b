package graft.canonical

import graft.schema.Mention

/** P10 — the chain PRODUCER half of coreference, the deterministic
  * no-CoreNLP analog of dcoref. The reference consumes CoreNLP chains of
  * (i, j, head) spans (`stanford_preprocess.py:336-363`); here chains
  * come from two rule families:
  *
  *  1. surface-identity chains: mentions of one document whose
  *     case/separator-folded alias matches (the same normalizer family
  *     as the cross-document CC, [[Canonicalize.formsExpr]]) form one
  *     chain, first occurrence first — the in-document precursor of the
  *     cross-doc merge;
  *  2. anaphora chains: configurable pronoun tokens resolved to the
  *     NEAREST PRECEDING mention within `maxDistance` tokens (classic
  *     rule-based antecedent choice, deterministic) — the pronoun span
  *     (p, p+1, p) joins its antecedent's chain and is later created as
  *     an `anaphora=True` occurrence by [[CorefMerge.applyChain]],
  *     exactly like the reference creates missing chain references
  *     (`stanford_preprocess.py:429-438`).
  *
  * Only chains with >= 2 spans are emitted (singletons merge nothing).
  * Chains are pure per-document data — the producer runs inside the
  * fused extract map, no shuffle.
  */
object CorefChains {

  val DefaultPronouns: Set[String] =
    Set("it", "he", "she", "they", "this", "that")

  /** Head convention: last token of the span (where applyChain probes
    * for existing occurrences; any covered token works for our spans). */
  private def span(m: Mention): (Int, Int, Int) =
    (m.offset, m.offset_end, m.offset_end - 1)

  def chains(
      tokens: Array[String],
      mentions: Seq[Mention],
      pronouns: Set[String] = DefaultPronouns,
      maxDistance: Int = 30): Seq[CorefMerge.Chain] = {
    val sorted = mentions.sortBy(m => (m.offset, m.offset_end))

    // 1. surface-identity chains, keyed by (kind, folded alias) — never
    // propose a cross-kind chain (applyChain would refuse it anyway).
    // NER-born mentions only: gazette-born occurrences already share a
    // global key (P8), and chaining them onto a local NER entity would
    // hand the canonical election to a per-occurrence key, fighting the
    // cross-document CC's gazette-first representative pick.
    val surface = sorted
      .filter(!_.from_gazette)
      .groupBy(m => (m.kind, m.alias.toLowerCase.replaceAll("[-_\\s]+", "")))
      .values.filter(_.size >= 2)
      .map(ms => ms.map(span).toSeq)
      .toSeq

    // 2. pronoun spans -> nearest preceding mention's chain
    val anaphora = tokens.iterator.zipWithIndex
      .filter { case (t, _) => pronouns.contains(t.toLowerCase) }
      .flatMap { case (_, p) =>
        sorted.reverseIterator
          .find(m => m.offset_end <= p && p - m.offset_end < maxDistance)
          .map(m => Seq(span(m), (p, p + 1, p)))
      }
      .toSeq

    // deterministic emit order: by first span
    (surface ++ anaphora).sortBy(_.head)
  }
}

package graft.features

/** F22: IOB chunk features (reference `lex_features.py:38-71`).
  *
  * The reference walks constituency trees (`segment.lex_trees`) that its
  * own preprocess never populates — the module is incomplete upstream
  * (`lex_features.py:5-9` is abandoned mid-function with a stray print
  * and returns `set()` unconditionally; `_bag_of_eo_IOB_chain:12-27`
  * stops at a commented-out `#chain =`), so these features never fire in
  * a stock install. Here both features derive from the P3 POS tags, with
  * no stored tree:
  *
  *  - [[chunks]] splits the tag sequence into maximal NP/VP/PP runs
  *    ([[chunkLabel]]); the rest stay unchunked — the two-level shape
  *    `S -> chunk -> preterminal -> token` the reference's walk assumes;
  *  - `chunk_tag` (`lex_features.py:41-57`): per token, `{B|I}-<label>`
  *    by its position inside its chunk, `O` when it is unchunked (the
  *    node two levels up is the root);
  *  - `iob_chain` (`lex_features.py:60-71`): the same walk, except that
  *    an unchunked token's chain is empty, yielding `""` — kept verbatim
  *    (the reference adds it to the set too). On two levels a chunked
  *    token's chain is its IOB tag.
  *
  * The abandoned per-entity-occurrence bag (:5-9) returns the empty set
  * in the reference and is therefore not ported.
  */
object IobChunker {

  /** One chunk: [start, end) token range; label None = unchunked run
    * (tokens sitting directly under S via their preterminals). */
  final case class Chunk(label: Option[String], start: Int, end: Int)

  /** Chunk grammar over the deterministic P3 tagset: maximal same-label
    * runs. Noun-ish material (incl. determiners/adjectives folded into
    * the nominal, standard shallow-chunk convention) -> NP, verbal
    * material -> VP, prepositions -> PP; punctuation/conjunctions/
    * brackets stay unchunked. */
  private[features] def chunkLabel(tag: String): Option[String] =
    if (tag.startsWith("NN") || tag == "DT" || tag == "JJ" ||
      tag == "PRP" || tag == "CD") Some("NP")
    else if (tag.startsWith("VB") || tag == "MD") Some("VP")
    else if (tag == "IN" || tag == "TO") Some("PP")
    else None

  def chunks(postags: Seq[String]): Seq[Chunk] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    var i = 0
    while (i < postags.length) {
      val label = chunkLabel(postags(i))
      var j = i + 1
      while (j < postags.length && chunkLabel(postags(j)) == label) j += 1
      out += Chunk(label, i, j)
      i = j
    }
    out.toSeq
  }

  /** `chunk_tag`: the distinct IOB tag set over all leaves — `O` for
    * unchunked tokens. Sorted for cross-run determinism (the reference
    * returns an unordered set). */
  def chunkTags(postags: Seq[String]): Seq[String] = walk(postags, "O")

  /** `iob_chain`: the distinct chain set over all leaves — the empty
    * chain `""` for unchunked tokens (reference behavior of
    * `"/".join([])`). Sorted for determinism. */
  def iobChains(postags: Seq[String]): Seq[String] = walk(postags, "")

  /** The one F22 walk: `{B|I}-<label>` by position inside each chunk,
    * `outside` for unchunked tokens; distinct and sorted. */
  private def walk(postags: Seq[String], outside: String): Seq[String] =
    chunks(postags).flatMap { c =>
      (c.start until c.end).map(t =>
        c.label.fold(outside)(l => (if (t == c.start) "B-" else "I-") + l))
    }.distinct.sorted
}

package graft.schema

/** Core row types of the KG-construction pipeline.
  *
  * Semantics derive from the reference data model
  * (`/root/reference/iepy/data/models.py`); representation is Spark-first:
  * denormalized typed Datasets instead of FK-normalized ORM rows.
  */

/** One source-code file row — the north-rule input shape.
  * `doc_id = s"$repo/$path@$commit"` mirrors the unique human identifier
  * (reference `iepy/data/models.py:74-77`). */
final case class RawDoc(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** A preprocessed document: parallel token arrays + sentence boundaries.
  * Invariants (reference `iepy/data/models.py:167-208`):
  *  - lemmas.length == tokens.length == offsets.length == postags.length
  *  - sentences strictly increasing, starts at 0, ends at tokens.length
  *  - parses: one bracketed s-expression per sentence (the
  *    `syntactic_sentences` field of the reference model,
  *    `iepy/data/models.py:86`, populated at
  *    `stanford_preprocess.py:199-204` from the parser annotator; here
  *    the deterministic shallow parse — same tree shape F22's
  *    tree-walks consume). */
final case class Doc(
    doc_id: String,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    text: String,
    content_sha256: String,
    tokens: Array[String],
    offsets: Array[Int],
    lemmas: Array[String],
    postags: Array[String],
    sentences: Array[Int],
    parses: Array[String] = Array.empty)

/** An entity occurrence (mention) in a document; token offsets, end
  * exclusive (reference `iepy/data/models.py:310-339`). */
final case class Mention(
    doc_id: String,
    offset: Int,
    offset_end: Int,
    kind: String,
    alias: String,
    entity_key: String,
    from_gazette: Boolean,
    ner_rank: Int,
    anaphora: Boolean) {
  def eoId: String = s"$doc_id:$offset:$offset_end"
}

/** A text segment (one sentence with >= 2 wholly-contained mentions),
  * hydrated with its own array slices (reference
  * `iepy/data/models.py:342-399` — hydration denormalized at build time). */
final case class Segment(
    segment_id: String,
    doc_id: String,
    offset: Int,
    offset_end: Int,
    tokens: Array[String],
    lemmas: Array[String],
    postags: Array[String],
    mentions: Array[SegMention])

/** A mention re-based to segment-local token offsets
  * (reference `iepy/data/models.py:335-339`). */
final case class SegMention(
    eo_id: String,
    offset: Int,
    offset_end: Int,
    kind: String,
    alias: String,
    entity_key: String,
    from_gazette: Boolean)

/** A candidate evidence: left/right entity occurrences co-occurring in one
  * segment (reference `iepy/data/models.py:618-660`). Carries the hydrated
  * segment arrays so downstream scoring needs no join. */
final case class Evidence(
    evidence_id: String,
    segment_id: String,
    doc_id: String,
    left_eo: String,
    right_eo: String,
    left_offset: Int,
    left_end: Int,
    right_offset: Int,
    right_end: Int,
    left_key: String,
    right_key: String,
    relation: String,
    tokens: Array[String],
    lemmas: Array[String],
    postags: Array[String],
    mentions: Array[SegMention])

/** A relation definition (reference `iepy/data/models.py:482-505`). */
final case class Relation(
    name: String,
    leftKind: String,
    rightKind: String)

package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classifier feature functions F1-F19 as pure Catalyst column
  * expressions over the hydrated evidence DataFrame (columns: `tokens`,
  * `lemmas`, `postags`, `mentions`, `left_offset`, `left_end`,
  * `right_offset`, `right_end`).
  *
  * Reference: `/root/reference/iepy/extraction/features.py:85-233` with
  * helpers `:235-273`. Everything stays inside whole-stage codegen — no
  * UDFs.
  */
object Features {

  /** Lowercased tokens (reference `features.py:240-241`). */
  def words(tokens: Column): Column = transform(tokens, t => lower(t))

  /** `in_between_offsets` as a struct(i, j) column
    * (reference `features.py:259-267`; A = right EO, B = left EO
    * `:270-273`). */
  def inBetween(lOff: Column, lEnd: Column, rOff: Column, rEnd: Column): Column =
    when(rEnd < lOff, struct(rEnd.as("i"), lOff.as("j")))
      .when(lEnd < rOff, struct(lEnd.as("i"), rOff.as("j")))
      .when(rEnd < lEnd, struct(rEnd.as("i"), rEnd.as("j")))
      .otherwise(struct(lEnd.as("i"), lEnd.as("j")))

  def inBetweenCol: Column =
    inBetween(col("left_offset"), col("left_end"),
      col("right_offset"), col("right_end"))

  /** `arr[i:j]` python-slice as a Column (1-based Spark slice). */
  def sliceIJ(arr: Column, i: Column, j: Column): Column =
    slice(arr, i + 1, greatest(j - i, lit(0)))

  private def bigramsOf(arr: Column): Column =
    zip_with(
      slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
      slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  private def wordpos(tokens: Column, postags: Column): Column =
    zip_with(words(tokens), postags, (w, p) => concat(w, lit("/"), p))

  // --- F1-F5: whole-segment bags ----------------------------------------
  def bagOfWords(tokens: Column): Column = array_distinct(words(tokens))
  def bagOfPos(postags: Column): Column = array_distinct(postags)
  def bagOfWordBigrams(tokens: Column): Column =
    array_distinct(bigramsOf(words(tokens)))
  def bagOfWordpos(tokens: Column, postags: Column): Column =
    array_distinct(wordpos(tokens, postags))
  def bagOfWordposBigrams(tokens: Column, postags: Column): Column =
    array_distinct(bigramsOf(wordpos(tokens, postags)))

  // --- F6-F10: in-between variants --------------------------------------
  def bagOfWordsInBetween(tokens: Column, ib: Column): Column =
    array_distinct(sliceIJ(words(tokens), ib("i"), ib("j")))
  def bagOfPosInBetween(postags: Column, ib: Column): Column =
    array_distinct(sliceIJ(postags, ib("i"), ib("j")))
  def bagOfWordBigramsInBetween(tokens: Column, ib: Column): Column =
    array_distinct(bigramsOf(sliceIJ(words(tokens), ib("i"), ib("j"))))
  def bagOfWordposInBetween(tokens: Column, postags: Column, ib: Column): Column =
    array_distinct(sliceIJ(wordpos(tokens, postags), ib("i"), ib("j")))
  def bagOfWordposBigramsInBetween(tokens: Column, postags: Column, ib: Column): Column =
    array_distinct(bigramsOf(sliceIJ(wordpos(tokens, postags), ib("i"), ib("j"))))

  // --- F11-F19: dense numerics ------------------------------------------
  /** 1 if A (right EO) occurs before B (left EO)
    * (reference `features.py:147-155`). */
  def entityOrder(lOff: Column, rOff: Column): Column =
    (rOff < lOff).cast("int")

  def entityDistance(ib: Column): Column = ib("j") - ib("i")

  def otherEntitiesInBetween(mentions: Column, ib: Column): Column =
    size(filter(mentions, m =>
      m.getField("offset") >= ib("i") && m.getField("offset") < ib("j")))

  def totalNumberOfEntities(mentions: Column): Column = size(mentions)

  def verbsCountInBetween(postags: Column, ib: Column): Column =
    size(filter(sliceIJ(postags, ib("i"), ib("j")),
      p => p.startsWith("VB")))

  def verbsCount(postags: Column): Column =
    size(filter(postags, p => p.startsWith("VB")))

  /** Segment-local sentence boundaries: our segments are single sentences,
    * boundary list = [0] (reference `features.py:206-215` checks
    * `i <= k < j`). */
  def inSameSentence(ib: Column): Column =
    (!exists(array(lit(0)), k => ib("i") <= k && k < ib("j"))).cast("int")

  /** Python `string.punctuation` char set (reference `features.py:2,11`). */
  private val punctClass =
    "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"

  def symbolsInBetween(tokens: Column, ib: Column): Column =
    exists(sliceIJ(tokens, ib("i"), ib("j")),
      t => t.rlike(punctClass)).cast("int")

  def numberOfTokens(tokens: Column): Column = size(tokens)

  /** F22 IOB chunk features (see [[IobChunker]]). The one UDF pair in
    * the feature set — maximal-run chunking plus the IOB walk over the
    * chunks are imperative per-row logic with no clean built-in
    * composition; input is the row's postag array only (bytes per row,
    * no broadcast state), so the codegen break is local to these two
    * columns. */
  private val chunkTagsUdf =
    udf((postags: Seq[String]) => IobChunker.chunkTags(postags))
  private val iobChainsUdf =
    udf((postags: Seq[String]) => IobChunker.iobChains(postags))

  def bagOfChunkTags(postags: Column): Column = chunkTagsUdf(postags)

  def bagOfIobChains(postags: Column): Column = iobChainsUdf(postags)

  /** All default features of `iepy/defaults.py:6-25` as named columns:
    * [[FeatureConfig.defaultSparse]], then [[FeatureConfig.defaultDense]];
    * `df` must carry the evidence schema. */
  def withDefaultFeatures(df: DataFrame): DataFrame =
    FeatureConfig.applyConfig(df,
      FeatureConfig.defaultSparse ++ FeatureConfig.defaultDense)
}

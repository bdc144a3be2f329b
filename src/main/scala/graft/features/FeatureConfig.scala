package graft.features

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.candidates.Candidates
import graft.rules.Rules
import graft.schema.{Evidence, Relation}

/** F20/F21: the data-driven feature configuration of the reference
  * (`/root/reference/iepy/extraction/features.py:52-87`, defaults in
  * `iepy/defaults.py:6-25`): feature NAMES (strings, possibly with
  * arguments) resolve at runtime to functions. Our registry maps a name
  * to a DataFrame transform adding the column `f_<name>`; the one table
  * behind it also holds the default `sparse_features` / `dense_features`
  * lists the relation classifier reads.
  *
  * F20 `rule-as-feature` (`features.py:43-49`): a compiled token-regex
  * rule applied to each evidence yields a 0/1 feature column — the rule
  * engine invoked inside feature extraction.
  */
object FeatureConfig {

  type FeatureFn = DataFrame => DataFrame

  /** How the default classifier consumes a feature: a bag for its
    * vectorizers, a dense numeric, or not at all. */
  private sealed trait Role
  private case object Sparse extends Role
  private case object Dense extends Role
  private case object NotDefault extends Role

  private final case class Feature(name: String, role: Role, column: Column)

  /** Every built-in feature, in registration order; the default lists
    * below are read off it, so a feature is named once. */
  private val features: Seq[Feature] = {
    import Features._
    val t = col("tokens"); val p = col("postags"); val m = col("mentions")
    val ib = col("ib")
    Seq(
      Feature("bag_of_words", Sparse, bagOfWords(t)),
      Feature("bag_of_pos", Sparse, bagOfPos(p)),
      Feature("bag_of_word_bigrams", NotDefault, bagOfWordBigrams(t)),
      Feature("bag_of_wordpos", NotDefault, bagOfWordpos(t, p)),
      Feature("bag_of_wordpos_bigrams", NotDefault, bagOfWordposBigrams(t, p)),
      Feature("bag_of_words_in_between", Sparse, bagOfWordsInBetween(t, ib)),
      Feature("bag_of_pos_in_between", Sparse, bagOfPosInBetween(p, ib)),
      Feature("bag_of_word_bigrams_in_between", NotDefault,
        bagOfWordBigramsInBetween(t, ib)),
      Feature("bag_of_wordpos_in_between", NotDefault,
        bagOfWordposInBetween(t, p, ib)),
      Feature("bag_of_wordpos_bigrams_in_between", NotDefault,
        bagOfWordposBigramsInBetween(t, p, ib)),
      Feature("entity_order", Dense,
        entityOrder(col("left_offset"), col("right_offset"))),
      Feature("entity_distance", Dense, entityDistance(ib)),
      Feature("other_entities_in_between", Dense,
        otherEntitiesInBetween(m, ib)),
      Feature("total_number_of_entities", Dense, totalNumberOfEntities(m)),
      Feature("verbs_count_in_between", Dense, verbsCountInBetween(p, ib)),
      Feature("verbs_count", Dense, verbsCount(p)),
      Feature("in_same_sentence", Dense, inSameSentence(ib)),
      Feature("symbols_in_between", Dense, symbolsInBetween(t, ib)),
      Feature("number_of_tokens", Dense, numberOfTokens(t)),
      // F22 (lex_features.py:38-71): available-but-not-default, like the
      // reference, whose default config never lists them (the module is
      // incomplete upstream and its trees are never populated)
      Feature("chunk_tag", NotDefault, bagOfChunkTags(p)),
      Feature("iob_chain", NotDefault, bagOfIobChains(p)))
  }

  private def namesOf(role: Role): Seq[String] =
    features.filter(_.role == role).map(_.name)

  /** `sparse_features` / `dense_features` of `iepy/defaults.py:6-25`. */
  val defaultSparse: Seq[String] = namesOf(Sparse)
  val defaultDense: Seq[String] = namesOf(Dense)

  /** The column feature `name` adds. */
  def columnOf(name: String): String = s"f_$name"

  /** Built-in registry: name -> transform adding [[columnOf]] `name`
    * (and the shared in-between offsets `ib`, once). */
  val registry: Map[String, FeatureFn] = features.map { f =>
    f.name -> ((df: DataFrame) => {
      val withIb =
        if (df.columns.contains("ib")) df
        else df.withColumn("ib", Features.inBetweenCol)
      withIb.withColumn(columnOf(f.name), f.column)
    })
  }.toMap

  /** Resolve a config (list of feature names) and apply in order;
    * unknown names raise, like the reference's import failure. */
  def applyConfig(df: DataFrame, names: Seq[String]): DataFrame =
    names.foldLeft(df) { (acc, name) =>
      registry.getOrElse(name,
        throw new IllegalArgumentException(s"Unknown feature: $name"))(acc)
    }

  /** F20: rule match as a feature column over a typed evidence Dataset.
    * The NFA is compiled once per partition and evaluated in-row
    * (reference `features.py:43-49,73-75`). */
  def ruleAsFeature(
      spark: SparkSession,
      evidence: Dataset[Evidence],
      rule: Rules.Rule,
      relation: Relation): DataFrame = {
    import spark.implicits._
    evidence.mapPartitions { it =>
      val m = Rules.compile(rule, relation)
      it.map(ev =>
        (ev.evidence_id,
          if (m.matches(Candidates.tokensToMatch(ev))) 1 else 0))
    }.toDF("evidence_id", s"f_rule_${rule.name}")
  }
}

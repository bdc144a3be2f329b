package graft

import graft.features.FeatureConfig
import graft.rules.Rules
import graft.schema.Relation
import graft.sources.Sources

/** F20/F21 + S3 normalizer fixtures. */
class FeatureConfigSpec extends SparkSpec {

  test("F21: config names resolve in order; unknown name raises") {
    import spark.implicits._
    val df = Seq(MarkupDsl.evidence(
      "Drinking {Mate|thing*} makes you go to the {toilet|thing**}")).toDF()
    val out = FeatureConfig.applyConfig(df,
      Seq("bag_of_words", "entity_distance", "verbs_count"))
    assert(out.columns.contains("f_bag_of_words"))
    assert(out.select("f_entity_distance").head.getInt(0) == 5)
    assertThrows[IllegalArgumentException] {
      FeatureConfig.applyConfig(df, Seq("no_such_feature"))
    }
  }

  test("F20: rule match as 0/1 feature column (features.py:43-49)") {
    import spark.implicits._
    val pos = MarkupDsl.evidence("{John|person**} was born in {1950|date*} x")
    val neg = MarkupDsl.evidence("{Mary|person**} knows nothing of {1990|date*} x")
    val rule = Rules.Rule("was_born", true, 0, (s, o) =>
      Rules.Star(Rules.AnyTok) + s + Rules.Token("was born in") + o +
        Rules.Star(Rules.AnyTok))
    val out = FeatureConfig.ruleAsFeature(spark, Seq(pos, neg).toDS(),
      rule, Relation("r", "PERSON", "DATE"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out(pos.evidence_id) == 1)
    assert(out(neg.evidence_id) == 0)
  }

  test("F22: chunk_tag / iob_chain tree-walk features (lex_features.py:38-71)") {
    import graft.features.IobChunker
    // "The dog saw John in Paris ." -> DT NN VBD NNP IN NNP .
    val tags = Seq("DT", "NN", "VBD", "NNP", "IN", "NNP", ".")
    assert(IobChunker.chunks(tags).map(c => (c.label, c.start, c.end)) ==
      Seq((Some("NP"), 0, 2), (Some("VP"), 2, 3), (Some("NP"), 3, 4),
        (Some("PP"), 4, 5), (Some("NP"), 5, 6), (None, 6, 7)))
    // chunk_tag: O for root-level leaves, B/I-<chunk> inside chunks
    assert(IobChunker.chunkTags(tags) ==
      Seq("B-NP", "B-PP", "B-VP", "I-NP", "O"))
    // iob_chain: same walk along path[:-1] — the root-level leaf's chain
    // is "/".join([]) = "" exactly as the reference emits it
    assert(IobChunker.iobChains(tags) ==
      Seq("", "B-NP", "B-PP", "B-VP", "I-NP"))
    // empty + all-unchunked edges
    assert(IobChunker.chunkTags(Nil) == Nil)
    assert(IobChunker.chunkTags(Seq(".", ",")) == Seq("O"))
    assert(IobChunker.iobChains(Seq(".", ",")) == Seq(""))

    // registry path: available by reference name, NOT in the default set
    import spark.implicits._
    val df = Seq(MarkupDsl.evidence(
      "{John|person**} was born in {1950|date*} x")).toDF()
    val out = FeatureConfig.applyConfig(df, Seq("chunk_tag", "iob_chain"))
    val row = out.select("f_chunk_tag", "f_iob_chain").head
    assert(row.getSeq[String](0).nonEmpty)
    assert(row.getSeq[String](0).forall(t =>
      t == "O" || t.matches("[BI]-(NP|VP|PP)")))
    assert(!graft.features.Features
      .withDefaultFeatures(df).columns.contains("f_chunk_tag"))
  }

  test("S3: lowercase-unless-acronym normalizer (literal.py:109-119)") {
    assert(Sources.toLowerNormalizer("The NASA Space Program") ==
      "the NASA space program")
    assert(Sources.toLowerNormalizer("IBM") == "IBM")
    assert(Sources.toLowerNormalizer("Plain Words") == "plain words")
  }
}

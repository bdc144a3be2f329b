package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.candidates.Candidates
import graft.rules.{BirthdateRules, Rules}
import graft.schema.{Relation, SegMention, Segment}

/** The ported canonical rule set
  * (`examples/birthdate/was_born_rules_sample.py`) against sentences
  * shaped like its own docstring examples. */
class BirthdateRulesSpec extends AnyFunSuite {

  private val rel = BirthdateRules.WasBornRelation

  /** Build a single-pair evidence from tokens+POS and two spans. */
  private def evidence(tokens: Seq[String], pos: Seq[String],
      person: (Int, Int), date: (Int, Int)) = {
    val toks = tokens.toArray
    val seg = Segment("s", "d", 0, toks.length, toks,
      toks.map(_.toLowerCase), pos.toArray, Array(
        SegMention("d:p", person._1, person._2, "PERSON", "p", "p", false),
        SegMention("d:o", date._1, date._2, "DATE", "o", "o", false)))
    Candidates.evidencesOf(seg, rel).head
  }

  private val core = new Rules.RuleCore(BirthdateRules.rules, rel)

  test("was_born_explicit_mention matches") {
    // Shamsher Chowdhury was born in 1950 .
    val ev = evidence(
      Seq("Shamsher", "Chowdhury", "was", "born", "in", "1950", "."),
      Seq("NNP", "NNP", "VBD", "VBN", "IN", "CD", "."),
      (0, 2), (5, 6))
    assert(core.predict(Candidates.tokensToMatch(ev)))
  }

  test("born_date_in_parenthesis matches") {
    // Gary Sykes ( Born 13 February 1984 ) is a boxer
    val ev = evidence(
      Seq("Gary", "Sykes", "-LRB-", "Born", "13", "February", "1984",
        "-RRB-", "is", "a", "boxer"),
      Seq("NNP", "NNP", "-LRB-", "NNP", "CD", "NNP", "CD", "-RRB-",
        "VBZ", "DT", "NN"),
      (0, 2), (4, 7))
    assert(core.predict(Candidates.tokensToMatch(ev)))
  }

  test("born_date_and_death_in_parenthesis matches") {
    // Carl Bridgewater ( January 2 1965 - September 19 1978 ) was shot
    val ev = evidence(
      Seq("Carl", "Bridgewater", "-LRB-", "January", "2", "1965", "-",
        "September", "19", "1978", "-RRB-", "was", "shot"),
      Seq("NNP", "NNP", "-LRB-", "NNP", "CD", "CD", "-", "NNP", "CD",
        "CD", "-RRB-", "VBD", "VBN"),
      (0, 2), (3, 6))
    assert(core.predict(Candidates.tokensToMatch(ev)))
  }

  test("negative rule wins by priority: 'X of Person (...)'") {
    // Sophie Christiane of Wolfstein ( 24 October 1667 - 23 August 1737 )
    // where 'Wolfstein' was mislabeled PERSON
    val ev = evidence(
      Seq("Sophie", "Christiane", "of", "Wolfstein", "-LRB-", "24",
        "October", "1667", "-", "23", "August", "1737", "-RRB-"),
      Seq("NNP", "NNP", "IN", "NNP", "-LRB-", "CD", "NNP", "CD", "-",
        "CD", "NNP", "CD", "-RRB-"),
      (3, 4), (5, 8))
    // the positive parenthesis rule WOULD match, but the negative rule
    // has priority 1 and matches first -> False
    assert(!core.predict(Candidates.tokensToMatch(ev)))
  }

  test("prefix-match semantics: trailing clause after the matched span") {
    // was_born_and_mentions_place has NO trailing Star(Any) in the
    // reference module, yet refo.match (prefix semantics) still accepts
    // '... was born in Tehran , Iran , in 1925 , and moved abroad .' —
    // the implicit tail absorber added at compile time must do the same.
    val ev = evidence(
      Seq("Nasser", "Sharify", "was", "born", "in", "Tehran", ",", "Iran",
        ",", "in", "1925", ",", "and", "moved", "abroad", "."),
      Seq("NNP", "NNP", "VBD", "VBN", "IN", "NNP", ",", "NNP", ",", "IN",
        "CD", ",", "CC", "VBD", "RB", "."),
      (0, 2), (10, 11))
    assert(core.predict(Candidates.tokensToMatch(ev)))
  }

  test("unrelated sentence matches nothing") {
    val ev = evidence(
      Seq("Pete", "visited", "Rome", "in", "1990", "."),
      Seq("NNP", "VBD", "NNP", "IN", "CD", "."),
      (0, 1), (4, 5))
    assert(!core.predict(Candidates.tokensToMatch(ev)))
  }

  test("'of' before person triggers only with a place prefix") {
    // neg rule needs place + 'of' + Subject; plain born sentence is fine
    val ev = evidence(
      Seq("John", "Smith", "was", "born", "in", "1980"),
      Seq("NNP", "NNP", "VBD", "VBN", "IN", "CD"),
      (0, 2), (5, 6))
    assert(core.predict(Candidates.tokensToMatch(ev)))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.rules.Rules
import graft.rules.Rules._
import graft.candidates.Candidates
import graft.schema.{Relation, SegMention, Segment}

/** Golden cases from `/root/reference/tests/test_core_rules.py` (the
  * "John Soplete" document) + refo semantics checks. */
class RulesSpec extends AnyFunSuite {

  // doc: "John Soplete ( 15 august 1990 - 26 september 2058 ) was a
  // software developer"  EO1 person [0,2) ; EO2 date [3,6)
  private val tokens = ("John Soplete ( 15 august 1990 - 26 september " +
    "2058 ) was a software developer").split(" ")
  private val lemmas = tokens.map(_.toLowerCase)
  private val postags = Array("NNP", "NNP", "-LRB-", "CD", "NN", "CD",
    "-", "CD", "NN", "CD", "-RRB-", "VBD", "DT", "NN", "NN")

  private val seg = Segment("s", "d", 0, tokens.length, tokens, lemmas,
    postags, Array(
      SegMention("d:0:2", 0, 2, "PERSON", "John Soplete", "John Soplete", false),
      SegMention("d:3:6", 3, 6, "DATE", "15 august 1990", "15 august 1990", false)))
  private val rel = Relation("born in", "PERSON", "DATE")

  private def toks = {
    val evs = Candidates.evidencesOf(seg, rel)
    assert(evs.nonEmpty)
    Candidates.tokensToMatch(evs.head)
  }

  private def core(rules: Rule*) = new RuleCore(rules, rel)

  private val anything = Star(AnyTok)

  test("matching rule answers true (test_core_rules.py:70-82)") {
    val r = Rule("match", true, 0,
      (s, o) => s + Token("(") + o + Token("-") + Question(Star(AnyTok)))
    assert(core(r).predict(toks))
  }

  test("non-matching rule answers false (:84-95)") {
    val r = Rule("nomatch", true, 0,
      (s, o) => s + o + Token("something here"))
    assert(!core(r).predict(toks))
  }

  test("empty rule set answers false (:97-102)") {
    assert(!core().predict(toks))
  }

  test("negative rule that matches answers false (:151-162)") {
    val neg = Rule("neg", false, 1,
      (s, o) => s + Token("(") + o + Token("-") + Question(Star(AnyTok)))
    val pos = Rule("pos", true, 0,
      (s, o) => s + Token("(") + o + Token("-") + Question(Star(AnyTok)))
    assert(!core(neg, pos).predict(toks))
  }

  test("higher priority rule tried first (:118-142)") {
    val lowPos = Rule("pos", true, 0,
      (s, o) => s + Token("(") + o + anything)
    val hiNeg = Rule("neg", false, 10,
      (s, o) => s + Token("(") + o + anything)
    assert(!core(lowPos, hiNeg).predict(toks))
    val hiPos = lowPos.copy(priority = 20)
    assert(core(hiPos, hiNeg).predict(toks))
  }

  test("multi-token literal Token(\"was born\") concatenates (rules.py:52-64)") {
    val t = Seq("he", "was", "born", "here").map(w =>
      TokenToMatch(w, w, "NN", Set.empty, false, false)).toIndexedSeq
    val m = new Matcher(anything + Token("was born") + anything)
    assert(m.matches(t))
    val m2 = new Matcher(anything + Token("born was") + anything)
    assert(!m2.matches(t))
  }

  test("match is anchored full-sequence") {
    val t = Seq("a", "b", "c").map(w =>
      TokenToMatch(w, w, "NN", Set.empty, false, false)).toIndexedSeq
    assert(!new Matcher(Token("a") + Token("b")).matches(t))
    assert(new Matcher(Token("a") + Token("b") + Token("c")).matches(t))
    assert(new Matcher(Token("a") + anything).matches(t))
    assert(!new Matcher(Token("b") + anything).matches(t))
  }

  test("-LRB-/-RRB- surface translation (models.py:446-452)") {
    val t = Seq(("x", "NN"), ("-LRB-", "-LRB-"), ("y", "NN"),
      ("-RRB-", "-RRB-")).map { case (w, p) =>
      TokenToMatch(w, w.toLowerCase, p, Set.empty, false, false)
    }.toIndexedSeq
    assert(new Matcher(anything + Token("(") + Token("y") + Token(")"))
      .matches(t))
    assert(new Matcher(anything + Pos("-LRB-") + anything).matches(t))
  }

  test("Star/Plus/Question/Alt combinators") {
    def tk(ws: String*) = ws.map(w =>
      TokenToMatch(w, w, "NN", Set.empty, false, false)).toIndexedSeq
    assert(new Matcher(Plus(Token("a"))).matches(tk("a", "a", "a")))
    assert(!new Matcher(Plus(Token("a"))).matches(tk()))
    assert(new Matcher(Star(Token("a"))).matches(tk()))
    assert(new Matcher(Question(Token("a"))).matches(tk()))
    assert(new Matcher(Question(Token("a"))).matches(tk("a")))
    assert(!new Matcher(Question(Token("a"))).matches(tk("a", "a")))
    assert(new Matcher(Token("a") | Token("b")).matches(tk("b")))
  }

  test("Kind and Lemma and Pos predicates") {
    val t = IndexedSeq(
      TokenToMatch("Dogs", "dog", "NNS", Set("ANIMAL"), true, false))
    assert(new Matcher(Kind("ANIMAL")).matches(t))
    assert(!new Matcher(Kind("PLANT")).matches(t))
    assert(new Matcher(Lemma("dog")).matches(t))
    assert(new Matcher(Pos("NNS")).matches(t))
  }

  test("subject/object patterns require kind membership and flags") {
    val rel2 = Relation("r", "PERSON", "DATE")
    val sPat = subjectPat(rel2.leftKind)
    val subjTok = TokenToMatch("John", "john", "NNP", Set("PERSON"), true, false)
    val nonSubj = subjTok.copy(isSubj = false)
    assert(new Matcher(sPat).matches(IndexedSeq(subjTok)))
    assert(!new Matcher(sPat).matches(IndexedSeq(nonSubj)))
  }
}

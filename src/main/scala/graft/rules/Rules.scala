package graft.rules

import scala.collection.mutable
import graft.schema.Relation

/** Token-regex rule engine.
  *
  * Re-expresses the reference's refo-based matcher
  * (`/root/reference/iepy/extraction/rules.py`,
  * `/root/reference/iepy/extraction/rules_core.py`) as a pattern AST
  * compiled to a Thompson NFA over token predicates, executed in-row inside
  * `mapPartitions` (the compiled rule set is broadcast once per job).
  *
  * Semantics preserved:
  *  - PREFIX match, anchored at the head: the reference applies
  *    `refo.match`, which (like `re.match`) accepts when a prefix of the
  *    token sequence matches — rules do NOT have to consume the tail
  *    (most reference rules append an explicit `Star(Any)` anyway, cf.
  *    `examples/birthdate/was_born_rules_sample.py:57-62`, but e.g.
  *    `was_born_and_mentions_place` does not and still matches sentences
  *    with trailing clauses). [[Matcher]] itself is full-sequence;
  *    every rule-application site compiles through [[compile]], whose
  *    [[prefixed]] appends the implicit `Star(Any)`.
  *  - `Token("was born")` = concatenation of consecutive single-token
  *    predicates (`rules.py:52-64`)
  *  - rules sorted by priority desc, first match wins, no match -> False
  *    (`rules_core.py:25,71-77`)
  *  - `-LRB-`/`-RRB-` tokens presented as `(`/`)` to `Token` predicates
  *    (`/root/reference/iepy/data/models.py:446-452`)
  */
object Rules {

  /** The per-token view a rule predicate sees (reference `rules.py:10`). */
  final case class TokenToMatch(
      token: String,
      lemma: String,
      pos: String,
      kinds: Set[String],
      isSubj: Boolean,
      isObj: Boolean)

  // --- pattern AST -------------------------------------------------------
  sealed trait Pat {
    def +(other: Pat): Pat = Cat(this, other)
    def |(other: Pat): Pat = Alt(this, other)
  }
  final case class Pred(name: String, f: TokenToMatch => Boolean) extends Pat
  final case class Cat(a: Pat, b: Pat) extends Pat
  final case class Alt(a: Pat, b: Pat) extends Pat
  final case class Star(a: Pat) extends Pat
  final case class Plus(a: Pat) extends Pat
  final case class Question(a: Pat) extends Pat

  val AnyTok: Pat = Pred("any", _ => true)

  /** refo.match prefix semantics: an implicit tail-absorbing Star(Any)
    * appended to a rule's pattern at compile time (reference
    * `rules_core.py:71-77` matches a PREFIX, it never requires the
    * pattern to consume the whole sentence). */
  def prefixed(p: Pat): Pat = Cat(p, Star(AnyTok))

  private def words(s: String, mk: String => Pat): Pat =
    s.split(" ").map(mk).reduceLeft[Pat](Cat.apply)

  /** Bracket translation per reference `models.py:446-452`. */
  private def surface(t: TokenToMatch): String = t.token match {
    case "-LRB-" => "("
    case "-RRB-" => ")"
    case other => other
  }

  def Token(s: String): Pat =
    words(s, w => Pred(s"token=$w", t => surface(t) == w))
  def Lemma(s: String): Pat =
    words(s, w => Pred(s"lemma=$w", t => t.lemma == w))
  def Pos(s: String): Pat =
    words(s, w => Pred(s"pos=$w", t => t.pos == w))
  def Kind(k: String): Pat = Pred(s"kind=$k", t => t.kinds.contains(k))

  /** `Plus(ConditionPredicate(is_subj=True, kinds__has=leftKind))`
    * (reference `rules.py:118-124`). */
  def subjectPat(leftKind: String): Pat =
    Plus(Pred(s"subj:$leftKind", t => t.isSubj && t.kinds.contains(leftKind)))
  def objectPat(rightKind: String): Pat =
    Plus(Pred(s"obj:$rightKind", t => t.isObj && t.kinds.contains(rightKind)))

  /** A rule: pattern built from (Subject, Object) pats
    * (reference `rules.py:13-23`). */
  final case class Rule(
      name: String,
      answer: Boolean,
      priority: Int,
      build: (Pat, Pat) => Pat)

  /** `rule` over `relation`'s subject/object kinds, with refo.match
    * prefix semantics: the one way a rule is compiled for matching. */
  def compile(rule: Rule, relation: Relation): Matcher =
    new Matcher(prefixed(rule.build(subjectPat(relation.leftKind),
      objectPat(relation.rightKind))))

  // --- Thompson NFA ------------------------------------------------------
  /** Compiled matcher: epsilon-free state machine, O(states * tokens). */
  final class Matcher(pat: Pat) extends Serializable {
    // states are ints; transitions: state -> list of (predicate, nextState)
    private val preds = mutable.ArrayBuffer.empty[TokenToMatch => Boolean]
    private val trans = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[(Int, Int)]]
    private val eps = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]

    private def newState(): Int = {
      trans += mutable.ArrayBuffer.empty
      eps += mutable.ArrayBuffer.empty
      trans.length - 1
    }

    // build fragment from `from`, return accepting state
    private def build(p: Pat, from: Int): Int = p match {
      case Pred(_, f) =>
        val to = newState()
        val pi = preds.length; preds += f
        trans(from) += ((pi, to)); to
      case Cat(a, b) => build(b, build(a, from))
      case Alt(a, b) =>
        val out = newState()
        eps(build(a, from)) += out
        eps(build(b, from)) += out
        out
      case Question(a) =>
        val out = build(a, from)
        eps(from) += out
        out
      case Plus(a) =>
        val out = build(a, from)
        eps(out) += from
        out
      case Star(a) =>
        val mid = newState()
        eps(from) += mid
        val out = build(a, mid)
        eps(out) += mid
        mid
    }

    private val start = newState()
    private val accept = build(pat, start)

    private def closure(states: java.util.BitSet): Unit = {
      val stack = mutable.ArrayBuffer.empty[Int]
      var i = states.nextSetBit(0)
      while (i >= 0) { stack += i; i = states.nextSetBit(i + 1) }
      while (stack.nonEmpty) {
        val s = stack.remove(stack.length - 1)
        val out = eps(s)
        var k = 0
        while (k < out.length) {
          val n = out(k)
          if (!states.get(n)) { states.set(n); stack += n }
          k += 1
        }
      }
    }

    /** Anchored full-sequence acceptance. */
    def matches(tokens: IndexedSeq[TokenToMatch]): Boolean = {
      var cur = new java.util.BitSet(trans.length)
      cur.set(start); closure(cur)
      var i = 0
      while (i < tokens.length) {
        val tok = tokens(i)
        val next = new java.util.BitSet(trans.length)
        var s = cur.nextSetBit(0)
        while (s >= 0) {
          val out = trans(s)
          var k = 0
          while (k < out.length) {
            val (pi, to) = out(k)
            if (!next.get(to) && preds(pi)(tok)) next.set(to)
            k += 1
          }
          s = cur.nextSetBit(s + 1)
        }
        closure(next)
        if (next.isEmpty) return false
        cur = next
        i += 1
      }
      cur.get(accept)
    }
  }

  /** Compiled rule set for one relation; rules by priority desc (stable),
    * first match wins (reference `rules_core.py:25,71-77`). */
  final class RuleCore(rules: Seq[Rule], relation: Relation)
      extends Serializable {
    private val compiled: Seq[(Matcher, Boolean)] =
      rules.sortBy(r => -r.priority).map(r => (compile(r, relation), r.answer))
    /** None if no rule matched (caller maps to False,
      * `rules_core.py:50-52`). */
    def matchEvidence(tokens: IndexedSeq[TokenToMatch]): Option[Boolean] =
      compiled.collectFirst {
        case (m, ans) if m.matches(tokens) => ans
      }
    def predict(tokens: IndexedSeq[TokenToMatch]): Boolean =
      matchEvidence(tokens).getOrElse(false)
  }
}

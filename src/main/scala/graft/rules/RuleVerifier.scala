package graft.rules

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.candidates.Candidates
import graft.output.Metrics
import graft.schema.{Evidence, Relation}

/** R9 rules verifier (reference
  * `/root/reference/iepy/instantiation/rules_verifier.py:40-133`): match
  * every rule against labeled evidence and report per-rule
  * tp/fp/tn/fn + accuracy/precision/recall/F1 vs the human labels.
  *
  * Spark shape: one `mapPartitions` producing the (rule x evidence) match
  * matrix (rules compiled once per partition), then a single groupBy(rule)
  * aggregation (M2 metrics).
  */
object RuleVerifier {

  /** @param labeled evidence Dataset joined with boolean `label` column
    *                (carried via a (Evidence, Boolean) tuple)
    */
  def verify(spark: SparkSession,
      labeled: Dataset[(Evidence, Boolean)],
      rules: Seq[Rules.Rule],
      relation: Relation): DataFrame = {
    import spark.implicits._
    val matches = labeled.mapPartitions { it =>
      val compiled =
        rules.map(r => (r.name, r.answer, Rules.compile(r, relation)))
      it.flatMap { case (ev, label) =>
        val toks = Candidates.tokensToMatch(ev)
        compiled.map { case (name, answer, m) =>
          val matched = m.matches(toks)
          // a rule "predicts" its answer when it matches; a positive rule
          // that does not match predicts nothing -> count vs label as the
          // reference does: prediction = matched ? answer : !answer
          (name, matched, answer, label)
        }
      }
    }.toDF("rule", "matched", "answer", "label")

    val predicted = when(col("matched"), col("answer"))
      .otherwise(!col("answer"))
    Metrics.confusion(matches.withColumn("p", predicted),
      col("p"), col("label"), col("rule"))
  }
}

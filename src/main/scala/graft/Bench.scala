package graft

import graft.schema.{Evidence, SegMention}

/** Synthetic inputs for the repository benchmark (`perfbench/`). */
object Bench {

  /** Deterministic synthetic evidence for the AL-round timing: positive
    * rows read "<name> was born in <year>", negatives "<name> never
    * visited friends in <year>" — linearly separable so every classifier
    * converges, with enough vocabulary spread to keep the vectorizers
    * honest. */
  private[graft] def alEvidence(i: Long, positive: Boolean): Evidence = {
    val name = s"Person${i % 997}"
    val year = (1900 + (i % 120)).toString
    val mid =
      if (positive) Array("was", "born", "in")
      else Array("never", "visited", "friends", "in")
    val toks = Array(name) ++ mid ++ Array(year, "town", s"w${i % 53}")
    val rOff = 1 + mid.length
    Evidence(
      evidence_id = f"ev$i%09d", segment_id = s"seg$i", doc_id = s"doc$i",
      left_eo = s"$i:0:1", right_eo = s"$i:$rOff:${rOff + 1}",
      left_offset = 0, left_end = 1,
      right_offset = rOff, right_end = rOff + 1,
      left_key = name, right_key = year, relation = "born",
      tokens = toks, lemmas = toks.map(_.toLowerCase),
      postags = toks.indices.map(j => if (j == 0) "NNP"
        else if (j == rOff) "CD" else "NN").toArray,
      mentions = Array(
        SegMention(s"$i:0:1", 0, 1, "PERSON", name, name, false),
        SegMention(s"$i:$rOff:${rOff + 1}", rOff, rOff + 1, "DATE",
          year, year, false)))
  }
}

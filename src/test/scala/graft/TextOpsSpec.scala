package graft

import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Near-dup operator behavior, focused on the LSH banding contract:
  * 4 bands x 4 rows must behave like an S-curve around J ~ 0.7 —
  * high-Jaccard pairs are candidates, low-Jaccard pairs are pruned —
  * NOT like the all-pairs generator a width-1 banding degrades to. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic corpus of doc families: within a family, docs share
    * most tokens (near-dups); across families, tokens are disjoint. */
  private def familyDocs(nFamilies: Int, perFamily: Int, nTok: Int,
      mutated: Int): Seq[(Long, String)] =
    (0 until nFamilies).flatMap { f =>
      (0 until perFamily).map { v =>
        val toks = (0 until nTok).map { t =>
          // mutate `mutated` token slots per variant, family-disjoint vocab
          if (t < mutated && v > 0) s"f${f}_v${v}_t$t" else s"f${f}_t$t"
        }
        ((f * perFamily + v).toLong, toks.mkString(" "))
      }
    }

  test("lshCandidatePairs finds all high-Jaccard pairs (within-family)") {
    // 5 families x 3 variants, 2/40 tokens mutated -> within-family
    // J ~ (40-2*2)/(40+2*2) >= 0.8; cross-family J = 0
    val docs = familyDocs(5, 3, 40, 2).toDF("doc_id", "text")
    val pairs = TextOps.lshCandidatePairs(docs).as[(Long, Long)]
      .collect().toSet
    val withinFamily = for {
      f <- 0 until 5; a <- 0 until 3; b <- (a + 1) until 3
    } yield ((f * 3 + a).toLong, (f * 3 + b).toLong)
    withinFamily.foreach(p => assert(pairs.contains(p),
      s"missed near-dup pair $p"))
    // no cross-family (J=0) pair may survive banding
    pairs.foreach { case (a, b) => assert(a / 3 == b / 3,
      s"false candidate across disjoint families: ($a,$b)") }
  }

  test("banding prunes mid/low-Jaccard pairs (not an all-pairs join)") {
    // 1 family, 30 variants, 24/40 tokens mutated -> pairwise J between
    // distinct variants = 16/64 = 0.25, far below the 4x4 S-curve
    // threshold (1/4)^(1/4) ~ 0.71 (P(candidate at 0.25) ~ 1.5%)
    val docs = familyDocs(1, 30, 40, 24).toDF("doc_id", "text")
    val n = TextOps.lshCandidatePairs(docs).count()
    val allPairs = 30L * 29 / 2
    assert(n < allPairs / 10,
      s"banding degenerate: $n of $allPairs pairs became candidates")
  }

  test("fused MinHashSlots == composed per-slot md5 minima") {
    val docs = familyDocs(4, 3, 25, 3).toDF("doc_id", "text")
    val fused = TextOps.minhash(docs, 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val toks = array_distinct(split(col("text"), " "))
    val composed = docs.select(
      (col("doc_id").cast("long").as("doc_id") +:
        (0 until 8).map(i => array_min(transform(toks,
          t => md5(concat(lit(s"$i:"), t)))).as(s"mh_$i"))): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fused == composed)
  }

  test("jaccardOfPairs is exact") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val byPair = TextOps.jaccardOfPairs(docs, pairs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(byPair((1L, 2L)) == 0.6) // |{a,b,c}| / |{a,b,c,d,e}|
    assert(byPair((1L, 3L)) == 0.0)
  }

  test("ngramJaccardOfPairs is exact and order-sensitive") {
    val docs = Seq(
      (1L, "a b c d e"),   // shingles: abc bcd cde
      (2L, "a b c e d"),   // shingles: abc bce ced -> shares only abc
      (3L, "e d c b a")    // reversed: no shared shingles, same tokens
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val j = TextOps.ngramJaccardOfPairs(docs, pairs, w = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(j((1L, 2L)) == 0.2)  // 1 shared of 5 distinct shingles
    assert(j((1L, 3L)) == 0.0)  // token-identical but order-reversed
    // contrast: unigram jaccard calls them identical
    val uni = TextOps.jaccardOfPairs(docs, pairs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(uni((1L, 3L)) == 1.0)
  }

  test("jaccardBothOfPairs == jaccardOfPairs + ngramJaccardOfPairs, fused") {
    val docs = familyDocs(4, 3, 25, 3).toDF("doc_id", "text")
    val pairs = TextOps.lshCandidatePairs(docs)
    val both = TextOps.jaccardBothOfPairs(docs, pairs, w = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    val uni = TextOps.jaccardOfPairs(docs, pairs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val ng = TextOps.ngramJaccardOfPairs(docs, pairs, w = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(both.keySet == uni.keySet && both.keySet == ng.keySet)
    both.foreach { case (p, (j, nj)) =>
      assert(j == uni(p) && nj == ng(p), s"fused pass diverges at $p")
    }
    assert(both.nonEmpty)
  }

  test("simhash banding recall vs brute force at maxHamming=6") {
    // 4 x 16-bit bands GUARANTEE recall only to Hamming <= 3 (pigeonhole);
    // pairs at 4..6 are probabilistic. Measure both regimes.
    val docs = familyDocs(8, 4, 60, 3).toDF("doc_id", "text")
    val sig = TextOps.simhash(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 6
    } yield (a, b, h)).toSet
    val banded = TextOps.simhashNearDupPairs(docs, maxHamming = 6)
      .as[(Long, Long, Int)].collect().toSet
    val bruteLe3 = brute.filter(_._3 <= 3)
    assert(bruteLe3.subsetOf(banded),
      "guaranteed Hamming<=3 pairs missing from banded output")
    if (brute.nonEmpty) {
      // beyond Hamming 3 the banding is probabilistic (a 4..6-bit
      // difference can straddle all four bands) — the operator docs
      // state this; hold the measured floor rather than claim more
      val recall = banded.count(brute.contains).toDouble / brute.size
      assert(recall >= 0.7, s"overall recall at Hamming<=6 fell to $recall")
    }
  }

  test("first-matching-band pairs == banded-union DISTINCT (minhash LSH, simhash)") {
    // lshCandidatePairs and simhashNearDupPairs emit each pair from the
    // first band it agrees on, with no distinct exchange; both must give
    // exactly the pair set of one self-join per band, unioned, distinct.
    // Close families (3/40 tokens mutated) share most bands; loose ones
    // (12/40) share a band only sometimes, so pairs first agree on
    // different bands.
    val docs = (familyDocs(5, 4, 40, 3) ++
      familyDocs(3, 6, 40, 12).map { case (id, t) =>
        (id + 1000L, t.split(" ").map("m" + _).mkString(" "))
      }).toDF("doc_id", "text")
    def bandedUnion(sig: org.apache.spark.sql.DataFrame,
        bandKeys: Seq[org.apache.spark.sql.Column]): Set[(Long, Long)] = {
      val perBand = bandKeys.map { key =>
        val keyed = sig.select(col("doc_id"), key.as("k"))
        keyed.select(col("doc_id").as("a"), col("k"))
          .join(keyed.select(col("doc_id").as("b"), col("k")), "k")
          .where(col("a") < col("b")).select(col("a"), col("b"))
      }
      val all = perBand.reduce(_ unionByName _)
      // guard against a vacuous check: some pair must agree on 2+ bands
      assert(all.count() > all.distinct().count(), "no multi-band pair")
      all.distinct().as[(Long, Long)].collect().toSet
    }

    val mh = TextOps.minhash(docs, 16)
    val lshRef = bandedUnion(mh, (0 until 4).map { b =>
      md5(concat_ws("|", (0 until 4).map(r => col(s"mh_${b * 4 + r}")): _*))
    })
    val lsh = TextOps.lshCandidatePairs(docs).as[(Long, Long)].collect()
    assert(lsh.length == lsh.toSet.size, "a candidate pair came out twice")
    assert(lsh.toSet == lshRef)

    // simhash: compared before the Hamming cut (64 keeps every pair)
    val sh = TextOps.simhash(docs)
    val shRef = bandedUnion(sh, (0 until 4).map(i =>
      shiftright(col("simhash"), i * 16).bitwiseAND(0xffffL)))
    val simPairs = TextOps.simhashNearDupPairs(docs, maxHamming = 64)
      .select(col("a"), col("b")).as[(Long, Long)].collect()
    assert(simPairs.length == simPairs.toSet.size,
      "a simhash pair came out twice")
    assert(simPairs.toSet == shRef)
  }

  test("IntersectCountSorted == size(array_intersect) on sorted distinct longs") {
    // the merge-count expression replaces size(array_intersect) on the
    // verify path; prove equality on deterministic pseudo-random sorted
    // distinct arrays plus the edge shapes (empty, disjoint, identical)
    val rows = (0 until 200).map { i =>
      val a = (0 until (i % 37)).map(j => ((j * 2654435761L + i) % 97) - 48)
        .distinct.sorted.toArray
      val b = (0 until ((i * 7) % 41)).map(j => ((j * 40503L + i * 13) % 97) - 48)
        .distinct.sorted.toArray
      (a, b)
    } ++ Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array(1L, 2L, 3L), Array.empty[Long]),
      (Array(-5L, 0L, 7L), Array(-5L, 0L, 7L)),
      (Array(Long.MinValue, 0L), Array(0L, Long.MaxValue)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.IntersectCountSorted.count(col("a"), col("b")).as("m"),
      size(array_intersect(col("a"), col("b"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"merge count ${r.getInt(0)} != array_intersect size ${r.getInt(1)}"))
    // a null element would count as 0 in the merge loop: arrays that may
    // hold nulls fail analysis instead
    val withNull = Seq((Seq(Some(1L), None), Seq(Some(1L), Some(2L))))
      .toDF("a", "b")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      withNull.select(graft.functions.IntersectCountSorted.count(
        col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("intersect_count_sorted"))
  }

  test("repetitionScores: Gopher dup-line / top-2gram golden values") {
    val docs = Seq(
      // lines [aa bb, aa bb, cc]: dup 1/3, dup chars 5/12; space-split
      // tokens keep newlines inside -> bigrams "aa bb\naa" (len 8),
      // "bb\naa bb\ncc" (len 11), both count 1 -> top 11/14
      0L -> "aa bb\naa bb\ncc",
      1L -> "hello", // single token: top2gram defined 0.0
      // "x y" appears 3x overlapping (len 3 -> 9 chars of 11)
      2L -> "x y x y x y",
      3L -> "", // degenerate: one empty line, zero line chars
      4L -> "l\nl\nl\nl" // 4 identical lines: 3/4 dup, 3/4 dup chars
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionScores(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got(0L) == ((3L, 0.3333, 0.4167, 0.7857)))
    assert(got(1L) == ((1L, 0.0, 0.0, 0.0)))
    assert(got(2L) == ((1L, 0.0, 0.0, 0.8182)))
    assert(got(3L) == ((1L, 0.0, 0.0, 0.0)))
    assert(got(4L) == ((4L, 0.75, 0.75, 0.0)))
  }
}

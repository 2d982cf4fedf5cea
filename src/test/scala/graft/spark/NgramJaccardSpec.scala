package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.NgramJaccard

/** Exact n-gram Jaccard lane: prefix-filter candidate soundness and
  * pair-for-pair equality with the brute-force oracle. */
class NgramJaccardSpec extends AnyFunSuite with SparkSuiteBase {

  // deterministic corpus with planted near-dups: 40 base docs, every 4th
  // re-appears with a small edit (high 3-gram Jaccard), plus unrelated text
  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    def sentence(seed: Int, len: Int): String =
      (0 until len).map(i => s"w${(seed * 31 + i * 7) % 97}").mkString(" ")
    val base = (0 until 40).map(i => (i.toLong, sentence(i, 30 + i % 20)))
    val dups = base.collect { case (id, t) if id % 4 == 0 =>
      val toks = t.split(" ")
      toks(rnd.nextInt(toks.length)) = "EDITED"
      (id + 1000L, toks.mkString(" "))
    }
    base ++ dups ++ Seq((5000L, ""), (5001L, "one two")) // edge: empty + short
  }

  test("pairs == brute force at t=0.5, n=3") {
    val docs = corpus
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val got = NgramJaccard.pairs(df, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = NgramJaccard.bruteForcePairs(docs, 3, 0.5)
    assert(want.nonEmpty, "oracle must be non-vacuous")
    assert(got == want)
  }

  test("candidates are a superset of true pairs (prefix lemma)") {
    val docs = corpus
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val cands = NgramJaccard.candidatePairs(df, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = NgramJaccard.bruteForcePairs(docs, 3, t)
      assert(truth.subsetOf(cands), s"prefix filter lost pairs at t=$t")
    }
  }

  test("df-ordered prefixes recover a pair that hash-order capping drops") {
    import spark.implicits._
    import graft.core.TextOps
    // Engineered corpus: one HOT gram in 12 docs (> maxPostings=4, so its
    // bucket star-caps) that is the global-MIN gram hash (always inside a
    // hash-order prefix), and one RARE shared gram that is the global-MAX
    // (always the one gram a 4-gram doc's prefix drops under hash order).
    // Docs 100/101 share {hot, rare} (J = 1/3 >= 0.3): under hash order
    // their only shared in-prefix gram is the capped hot one -> the direct
    // pair is lost to the star fallback; under the hot-LAST df order the
    // prefixes drop the hot gram instead, the rare gram's 2-doc bucket
    // survives, and the pair is found.
    val words = (0 until 60).map(i => s"tok$i")
    val byHash = words.sortBy(w => TextOps.shingleHashes(w, 1).head)
    val hot = byHash.head
    val rare = byHash.last
    val Seq(a1, a2, b1, b2) = byHash.slice(1, 5)
    val mid = byHash.slice(5, 35)
    val fillers = (0 until 10).map(i =>
      (i.toLong, s"$hot ${mid(3 * i)} ${mid(3 * i + 1)} ${mid(3 * i + 2)}"))
    val docs = fillers ++ Seq((100L, s"$hot $rare $a1 $a2"), (101L, s"$hot $rare $b1 $b2"))
    val df = docs.toDF("doc_id", "text")
    val truth = NgramJaccard.bruteForcePairs(docs, 1, 0.3)
    assert(truth == Set((100L, 101L)), s"fixture broken: $truth")
    def run(dfOrdered: Boolean) =
      NgramJaccard.pairs(df, "doc_id", "text", n = 1, threshold = 0.3,
          maxPostings = 4, dfOrdered = dfOrdered)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashOrder = run(dfOrdered = false)
    assert(!hashOrder.contains((100L, 101L)),
      "fixture must make hash-order capping drop the pair")
    assert(run(dfOrdered = true) == truth)
  }

  test("df-ordered pairs == brute force on the planted-dup corpus") {
    // same completeness contract as the default order on a corpus with no
    // hot grams — the flag must not change results when caps don't fire
    val docs = corpus
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val got = NgramJaccard.pairs(df, "doc_id", "text", n = 3, threshold = 0.5,
        dfOrdered = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == NgramJaccard.bruteForcePairs(docs, 3, 0.5))
  }

  // containment corpus: every 5th base doc re-appears WRAPPED in heavy
  // boilerplate (containee ⊂ container), plus the near-dup edits above
  private def containCorpus: Seq[(Long, String)] = {
    def sentence(seed: Int, len: Int): String =
      (0 until len).map(i => s"w${(seed * 31 + i * 7) % 97}").mkString(" ")
    val base = (0 until 30).map(i => (i.toLong, sentence(i, 20 + i % 10)))
    val wrapped = base.collect { case (id, t) if id % 5 == 0 =>
      (id + 2000L, sentence(900 + id.toInt, 40) + " " + t + " " + sentence(800 + id.toInt, 40))
    }
    base ++ wrapped ++ Seq((5000L, ""), (5001L, "one two"))
  }

  test("containment pairs == brute force at t=4/5, n=3") {
    val docs = containCorpus
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val got = NgramJaccard.containmentPairs(df, "doc_id", "text", n = 3,
        tNum = 4, tDen = 5)
      .select("id_a", "id_b", "a_in_b", "b_in_a").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toSet
    val want = NgramJaccard.bruteForceContainment(docs, 3, 4, 5)
    assert(want.nonEmpty, "oracle must be non-vacuous")
    assert(got == want)
  }

  test("containment catches the boilerplate-wrap pairs symmetric Jaccard misses") {
    val docs = containCorpus
    val wrappedPairs = docs.collect {
      case (id, _) if id >= 2000L && id < 5000L => (id - 2000L, id)
    }.toSet
    assert(wrappedPairs.nonEmpty)
    // symmetric Jaccard at t=0.5 misses them: the wrapper triples the size
    val jac = NgramJaccard.bruteForcePairs(docs, 3, 0.5)
    assert(wrappedPairs.forall(p => !jac.contains(p)),
      s"fixture broken: Jaccard found a wrapped pair")
    // the containment lane finds every one, flagged a_in_b
    import spark.implicits._
    val got = NgramJaccard.containmentPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, tNum = 4, tDen = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getBoolean(5))).toMap
    wrappedPairs.foreach { p =>
      assert(got.get(p).exists(identity), s"missed wrapped pair $p")
    }
  }

  test("topKSimilar equals the brute-force integer ranking") {
    import spark.implicits._
    // near-dup cluster structure: generated pages plus appended-token
    // variants give a spread of exact Jaccards above and below the floor
    val base = graft.core.WebPages.generate(60, 91L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val variants = base.collect { case (id, t) if id % 4 == 0 && t.length >= 200 =>
      Seq((100L + id, t + " aa" + id),
          (200L + id, t + " bb" + id + " cc dd ee ff gg hh ii jj kk ll"))
    }.flatten
    val docs = base ++ variants
    val (n, k, t10) = (3, 3, 3)
    val got = NgramJaccard.topKSimilar(docs.toDF("doc_id", "text"),
        "doc_id", "text", n, k, t10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2)).toSeq
    // brute force with the IDENTICAL integer arithmetic
    val sh = docs.map { case (id, t) => (id, graft.core.TextOps.shingleHashes(t, n)) }
    val scored = for {
      (ia, sa) <- sh; (ib, sb) <- sh
      if ia != ib
      inter = sa.intersect(sb).length
      u = sa.length + sb.length - inter
      if u > 0 && inter * 10L >= t10.toLong * u
    } yield (ia, ib, inter * 1000000000L / u)
    val want = scored.groupBy(_._1).toSeq.flatMap { case (id, ns) =>
      ns.sortBy(x => (-x._3, x._2)).take(k)
    }.sortBy(x => (x._1, x._2))
    assert(got.nonEmpty, "vacuous: no qualifying neighbors")
    assert(got === want)
    // every doc's queue is at most k deep
    assert(got.groupBy(_._1).values.forall(_.size <= k))
  }

  test("overlapStats is exact on knowns") {
    val (i1, a1, b1) = NgramJaccard.overlapStats("a b c d", "a b c d", 3)
    assert((i1, a1, b1) == (2, 2, 2)) // grams: "a b c","b c d"
    val (i2, a2, b2) = NgramJaccard.overlapStats("a b c d", "x y z", 3)
    assert(i2 == 0 && a2 == 2 && b2 == 1)
    val (i3, _, _) = NgramJaccard.overlapStats("", "a b c", 3)
    assert(i3 == 0)
  }
}

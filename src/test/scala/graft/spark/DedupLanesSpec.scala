package graft.spark

import graft.core.{TextOps, WebPages}
import graft.operators.{ExactDedup, SimHashDedup, SubstringDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lane-level truth oracles for the two dedup lanes whose kernels are not
  * DuckDB-expressible (rows-only in the driver's correctness gate): exact
  * equality against local brute force, not just recall. */
class DedupLanesSpec extends AnyFunSuite with SparkSuiteBase {

  private lazy val local: Seq[(Long, String)] =
    WebPages.generate(300, 21L).zipWithIndex.map { case (p, i) => (i.toLong, p.text) }
  private lazy val docs = {
    import spark.implicits._
    local.toDF("doc_id", "text")
  }

  test("simhash pairs == brute-force Hamming truth (pigeonhole probing is exact)") {
    val maxDist = 3
    val sims = local.map { case (id, t) => (id, TextOps.simHash64(t)) }
    val truth = (for {
      (ia, sa) <- sims
      (ib, sb) <- sims
      if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= maxDist
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "degenerate corpus: no simhash pairs")

    val got = SimHashDedup.pairs(docs, "doc_id", "text", maxDist)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("survivorsBy: argmax-score winner per duplicate group, ties to min id") {
    import spark.implicits._
    // groups of exact copies under distinct ids; score = id % 7 so the
    // winner usually is NOT the min id, with engineered ties
    val rows = (0 until 120).map { i =>
      (i.toLong, s"group text ${i % 20}") // 20 groups of 6 copies
    }
    val truth = rows.groupBy(_._2).values.map { g =>
      g.maxBy { case (id, _) => (id % 7, -id) }._1
    }.toSet
    val got = ExactDedup.survivorsBy(rows.toDF("doc_id", "text"),
        "doc_id", "text", col("doc_id") % 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == truth)
    // sanity: differs from plain min-id survivors on this fixture
    val minIds = rows.groupBy(_._2).values.map(_.map(_._1).min).toSet
    assert(got != minIds, "fixture must exercise non-min winners")
  }

  test("substring pairs == brute-force common-substring truth (winnowing is lossless >= 175)") {
    val minLen = 200
    val truth = (for {
      (ia, ta) <- local
      (ib, tb) <- local
      if ia < ib
      if TextOps.commonSubstringAtLeast(ta, tb, minLen)
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "degenerate corpus: no substring pairs")

    val got = SubstringDedup.pairs(docs, "doc_id", "text", minLen)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("exact lane: paranoid 128-bit key is result-identical; pairs guard trips on over-cap groups") {
    import spark.implicits._
    // dup-injected corpus: each text appears 1-4 times under distinct ids
    val rows = local.take(30).flatMap { case (id, t) =>
      (0 to (id % 4).toInt).map(k => (id * 10 + k, t))
    }
    val df = rows.toDF("doc_id", "text")
    def norm(d: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      d.collect().map(_.toSeq).toSet
    assert(norm(ExactDedup.clusters(df, "doc_id", "text")) ==
      norm(ExactDedup.clusters(df, "doc_id", "text", paranoid = true)))
    assert(norm(ExactDedup.pairs(df, "doc_id", "text")) ==
      norm(ExactDedup.pairs(df, "doc_id", "text", paranoid = true)))
    assert(norm(ExactDedup.survivors(df, "doc_id", "text")) ==
      norm(ExactDedup.survivors(df, "doc_id", "text", paranoid = true)))
    // the corpus has a 4-member group: a bound of 3 must fail loudly, not
    // silently emit a capped/star subset
    val ex = intercept[Throwable] {
      ExactDedup.pairs(df, "doc_id", "text", maxGroupSize = 3).count()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("maxGroupSize"), msgs.take(500))
  }

  test("incrementalSurvivors: corpus copies vanish, batch copies dedupe, fresh docs survive") {
    import spark.implicits._
    val corpus = local.take(50).toDF("doc_id", "text")
    // incoming: 20 fresh docs, 10 copies of corpus docs under new ids,
    // and each fresh doc 100..104 duplicated once within the batch
    val freshDocs = local.slice(50, 70).map { case (id, t) => (id + 50, t) }
    val corpusCopies = local.take(10).map { case (id, t) => (id + 9000, t) }
    val batchCopies = freshDocs.take(5).map { case (id, t) => (id + 900, t) }
    val incomingSeq = freshDocs ++ corpusCopies ++ batchCopies
    val incoming = incomingSeq.toDF("doc_id", "text")
    // truth from first principles: the pages corpus itself plants exact-dup
    // clusters, so fresh docs may duplicate each other OR a corpus doc
    val corpusTexts = local.take(50).map(_._2).toSet
    val expected = incomingSeq.filterNot(d => corpusTexts.contains(d._2))
      .groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert(expected.nonEmpty && expected.size < incomingSeq.size,
      "degenerate fixture: dedup would be vacuous")
    val got = ExactDedup.incrementalSurvivors(corpus, incoming, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // paranoid parity
    val gotP = ExactDedup.incrementalSurvivors(corpus, incoming, "doc_id", "text",
      paranoid = true).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotP == got)
  }

  test("incrementalSurvivorsBloom is row-identical to the plain path for any filter sizing") {
    import spark.implicits._
    val corpus = local.take(50).toDF("doc_id", "text")
    val freshDocs = local.slice(50, 70).map { case (id, t) => (id + 50, t) }
    val corpusCopies = local.take(10).map { case (id, t) => (id + 9000, t) }
    val batchCopies = freshDocs.take(5).map { case (id, t) => (id + 900, t) }
    val incoming = (freshDocs ++ corpusCopies ++ batchCopies).toDF("doc_id", "text")
    val expected = ExactDedup.incrementalSurvivors(corpus, incoming, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // well-sized (fpp 1%), deliberately undersized (fpp ~1 — everything a
    // maybe), and over-sized: the result must be invariant in the filter
    for ((n, fpp) <- Seq((64L, 0.01), (2L, 0.5), (1000000L, 0.001))) {
      val bloom = ExactDedup.corpusBloom(corpus, "text", n, fpp)
      val got = ExactDedup.incrementalSurvivorsBloom(corpus, incoming, "doc_id", "text", bloom)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"bloom($n, $fpp) changed the result")
      // paranoid parity through the bloom path too
      val gotP = ExactDedup.incrementalSurvivorsBloom(corpus, incoming, "doc_id", "text",
        bloom, paranoid = true).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotP == expected)
    }
    // the prefilter must actually fire: with a well-sized filter every
    // corpus copy is a maybe (true positive) — none may leak through as
    // "definitely fresh" (that would be a false negative)
    val bloom = ExactDedup.corpusBloom(corpus, "text", 64L, 0.01)
    val bf = graft.core.BloomFilter.deserialize(bloom)
    val corpusHashes = corpus.select(xxhash64(col("text")).as("h"))
      .collect().map(_.getLong(0))
    corpusHashes.foreach(h => assert(bf.mightContain(h), "false negative on a corpus hash"))
  }

  test("counting-bloom retire flow: probe-parity, retirement exactness, loud contracts") {
    import spark.implicits._
    val corpus = local.take(60).toDF("doc_id", "text")
    // policy retirement: every 3rd corpus doc leaves the corpus entirely
    val retired = corpus.filter(col("doc_id") % 3 === 1)
    val surv = corpus.filter(col("doc_id") % 3 =!= 1)
    val freshDocs = local.slice(60, 80).map { case (id, t) => (id + 60, t) }
    val survCopies = local.take(60).filter(_._1 % 3 != 1).take(8)
      .map { case (id, t) => (id + 9000, t) }
    val retiredCopies = local.take(60).filter(_._1 % 3 == 1).take(8)
      .map { case (id, t) => (id + 8000, t) }
    val incoming = (freshDocs ++ survCopies ++ retiredCopies).toDF("doc_id", "text")
    // truth: exact incremental dedup against the SURVIVOR corpus — retired
    // copies must come back as fresh
    val expected = ExactDedup.incrementalSurvivors(surv, incoming, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the generator plants exact dups, so a retired TEXT may also live on
    // in a survivor (then its copy rightly dedupes) or appear twice in the
    // batch (then only the min id survives) — assert exactly for the
    // unambiguous copies and that at least one such copy exists
    val survTexts = local.take(60).filter(_._1 % 3 != 1).map(_._2).toSet
    val batchMinId = (freshDocs ++ survCopies ++ retiredCopies)
      .groupBy(_._2).map { case (t, rows) => t -> rows.map(_._1).min }
    val unambiguous = retiredCopies.filter { case (id, t) =>
      !survTexts.contains(t) && batchMinId(t) == id }
    assert(unambiguous.nonEmpty, "fixture degenerate: no unambiguous retired copy")
    assert(unambiguous.map(_._1 + 0L).forall(expected.contains),
      "a retired-text copy was still deduped — retirement truth broken")
    val full = ExactDedup.corpusCountingBloom(corpus, "text", 64L, 0.01)
    val maintained = ExactDedup.retireFromCountingBloom(full, retired, "text")
    val got = ExactDedup.incrementalSurvivorsCountingBloom(
        surv, incoming, "doc_id", "text", maintained)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missed=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
    // the maintained filter == per-key removes == fresh build invariants
    val cf = graft.core.CountingBloomFilter.deserialize(maintained)
    assert(cf.itemsAdded == surv.count())
    val survHashes = surv.select(xxhash64(col("text")).as("h")).collect().map(_.getLong(0))
    survHashes.foreach(h => assert(cf.mightContain(h), "false negative on a survivor hash"))
    // subtract == the distributed agg path: rebuild deletes locally
    val full2 = graft.core.CountingBloomFilter.deserialize(full)
    val del = graft.core.CountingBloomFilter.withConfig(full2.numCells, full2.numHashes)
    retired.select(xxhash64(col("text")).as("h")).collect().map(_.getLong(0))
      .foreach(del.update)
    assert(java.util.Arrays.equals(full2.subtract(del).serialize(), maintained),
      "distributed retire != local subtract")
    // retiring keys that were never inserted must fail loudly (underflow)
    val alien = Seq((777770L, "zz totally novel text zz")).toDF("doc_id", "text")
    assertThrows[Exception](
      ExactDedup.retireFromCountingBloom(maintained, alien, "text"))
  }

  test("incrementalSurvivorsBloomSharded matches the plain path; empty shards are sound") {
    import spark.implicits._
    val corpus = local.take(50).toDF("doc_id", "text")
    val freshDocs = local.slice(50, 70).map { case (id, t) => (id + 50, t) }
    val corpusCopies = local.take(10).map { case (id, t) => (id + 9000, t) }
    val batchCopies = freshDocs.take(5).map { case (id, t) => (id + 900, t) }
    val incoming = (freshDocs ++ corpusCopies ++ batchCopies).toDF("doc_id", "text")
    val expected = ExactDedup.incrementalSurvivors(corpus, incoming, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // shards = 1 degenerates to the monolithic filter; 16 leaves some hash
    // ranges with NO corpus docs (50 docs over 16 shards) — those shards
    // have no filter row and must mark their rows definitely-fresh, not drop
    for (shards <- Seq(1, 16)) {
      val filters = ExactDedup.corpusBloomShards(corpus, "text", shards,
        expectedItemsPerShard = 64L)
      val got = ExactDedup.incrementalSurvivorsBloomSharded(
        corpus, incoming, "doc_id", "text", filters, shards)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"shards=$shards changed the result")
      val gotP = ExactDedup.incrementalSurvivorsBloomSharded(
        corpus, incoming, "doc_id", "text", filters, shards, paranoid = true)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotP == expected)
    }
    // shard-wise append: merging per-shard filters of two half-corpora must
    // equal one filter over the union (the Iceberg-append maintenance path)
    val halfA = local.take(25).toDF("doc_id", "text")
    val halfB = local.slice(25, 50).map { case (id, t) => (id, t) }.toDF("doc_id", "text")
    val merged = ExactDedup.corpusBloomShards(halfA, "text", 4, 64L)
      .unionByName(ExactDedup.corpusBloomShards(halfB, "text", 4, 64L))
      .groupBy("shard")
      .agg(GraftFunctions.call("bloom_merge", col("filter")).as("filter"))
    val whole = ExactDedup.corpusBloomShards(corpus, "text", 4, 64L)
    val mergedMap = merged.collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val wholeMap = whole.collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(mergedMap.keySet == wholeMap.keySet)
    for ((s, bytes) <- wholeMap)
      assert(java.util.Arrays.equals(bytes, mergedMap(s)), s"shard $s filter differs after merge")
  }
}

package graft.spark

import graft.core.{TextOps, WebPages}
import graft.operators.{MinHashLSH, SimHashDedup, SubstringDedup}
import graft.pipeline.ParquetTableIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental near-dup lane: a new batch probed against a STORED corpus
  * band index (the daily-crawl-increment shape at the near-dup tier).
  * Truth here is local brute force over exactly the kernels the lane's
  * verify step uses (hashed 5-gram shingles, exact Jaccard), so these
  * tests pin row-level equality, not just recall; the driver's DuckDB
  * oracle re-pins the same lane against literal gram strings. */
class IncrementalNearDupSpec extends AnyFunSuite with SparkSuiteBase {

  private val threshold = 0.8

  // corpus = 200 generated pages; batch = 60 fresh pages + exact copies of
  // 20 corpus docs + appended-token near-dups of 20 others (long docs so
  // one extra token stays >= the threshold)
  private lazy val corpusLocal: Seq[(Long, String)] =
    WebPages.generate(200, 77L).zipWithIndex.map { case (p, i) => (i.toLong, p.text) }
  private lazy val batchLocal: Seq[(Long, String)] = {
    val fresh = WebPages.generate(60, 78L).zipWithIndex
      .map { case (p, i) => (1000L + i, p.text) }
    val copies = corpusLocal.filter(_._1 % 10 == 0)
      .map { case (id, t) => (2000L + id, t) }
    val nearDups = corpusLocal.filter(_._1 % 10 == 3)
      .filter(_._2.length >= 400)
      .map { case (id, t) => (3000L + id, t + " zz" + id) }
    fresh ++ copies ++ nearDups
  }

  private def bruteTruth: Set[(Long, Long)] = {
    val cs = corpusLocal.map { case (id, t) => (id, TextOps.shingleHashes(t)) }
    val bs = batchLocal.map { case (id, t) => (id, TextOps.shingleHashes(t)) }
    (for {
      (ib, sb) <- bs
      (ic, sc) <- cs
      if TextOps.sortedJaccard(sb, sc) >= threshold
    } yield (ib, ic)).toSet
  }

  private lazy val corpusDf = {
    import spark.implicits._
    corpusLocal.toDF("doc_id", "text")
  }
  private lazy val batchDf = {
    import spark.implicits._
    batchLocal.toDF("doc_id", "text")
  }

  test("stored-index probe == brute-force cross truth (copies AND near-dups present)") {
    val truth = bruteTruth
    assert(truth.exists { case (b, _) => b >= 2000 && b < 3000 }, "no exact-copy pairs")
    assert(truth.exists { case (b, _) => b >= 3000 }, "no appended-token near-dup pairs")
    val index = MinHashLSH.bandIndex(corpusDf, "doc_id", "text")
    val got = MinHashLSH
      .incrementalNearDupPairs(index, corpusDf, batchDf, "doc_id", "text", threshold)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("novel == batch minus paired (the two faces complement exactly)") {
    val pairedBatchIds = bruteTruth.map(_._1)
    val expect = batchLocal.map(_._1).toSet -- pairedBatchIds
    val index = MinHashLSH.bandIndex(corpusDf, "doc_id", "text")
    val got = MinHashLSH
      .incrementalNovel(index, corpusDf, batchDf, "doc_id", "text", threshold)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("hot bucket past maxPostings degrades to its hub and still detects the template") {
    import spark.implicits._
    // 50 byte-identical template docs in the corpus; a capped probe can
    // keep at most 8 postings per bucket, so the bucket overflows and the
    // lane falls back to the hub (min corpus id) — the probe of one more
    // copy must still report a verified pair to the hub
    val template = WebPages.generate(1, 99L).head.text
    val hot = (0L until 50L).map(i => (i, template)).toDF("doc_id", "text")
    val probe = Seq((777L, template)).toDF("doc_id", "text")
    val index = MinHashLSH.bandIndex(hot, "doc_id", "text")
    val got = MinHashLSH
      .incrementalNearDupPairs(index, hot, probe, "doc_id", "text", 0.9,
        maxPostings = 8)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((777L, 0L)), s"hub pair missing: $got")
    // completeness past the cap is a documented lower bound — but the hub
    // is always present, so detection (near-dup of corpus at all) holds
    assert(got.forall(_._1 == 777L))
  }

  test("weighted incremental probe == brute-force cross weighted-Jaccard truth") {
    // tf-divergent near-dups: every 10th-offset-5 corpus doc re-appears
    // with its first ~n/12 tokens duplicated (J_w ≈ 12/13); exact copies
    // and fresh docs from the shared fixtures exercise the 1.0 and ~0
    // ends. Truth threshold 0.9: the 16×8 S-curve's per-pair collision
    // probability is >= 0.9999 there, so row equality is a sound claim —
    // at the curve's soft region (~0.8) LSH honestly loses a few-percent
    // of pairs and equality would pin luck, not the operator
    val tfDups = corpusLocal.filter(_._1 % 10 == 5)
      .map { case (id, t) =>
        val tk = t.trim.split("\\s+").filter(_.nonEmpty)
        (4000L + id, t + " " + tk.take(1 + tk.length / 12).mkString(" "))
      }
    val batch = batchLocal ++ tfDups
    val truth = (for {
      (ib, tb) <- batch
      (ic, tc) <- corpusLocal
      if TextOps.weightedJaccard(tb, tc) >= 0.9
    } yield (ib, ic)).toSet
    assert(truth.exists(_._1 >= 4000), "no tf-divergent pairs — vacuous")
    import spark.implicits._
    val batchDf2 = batch.toDF("doc_id", "text")
    val index = MinHashLSH.weightedBandIndex(corpusDf, "doc_id", "text")
    val got = MinHashLSH
      .weightedIncrementalPairs(index, corpusDf, batchDf2, "doc_id", "text", 0.9)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("simhash incremental probe == brute-force cross Hamming truth (exact below cap)") {
    val maxDist = 3
    val simsC = corpusLocal.map { case (id, t) => (id, TextOps.simHash64(t)) }
    val simsB = batchLocal.map { case (id, t) => (id, TextOps.simHash64(t)) }
    val truth = (for {
      (ib, sb) <- simsB
      (ic, sc) <- simsC
      if java.lang.Long.bitCount(sb ^ sc) <= maxDist
    } yield (ib, ic)).toSet
    assert(truth.nonEmpty, "degenerate: no cross Hamming pairs (copies should be dist 0)")
    val index = SimHashDedup.probeIndex(corpusDf, "doc_id", "text", maxDist)
    val got = SimHashDedup
      .incrementalPairs(index, batchDf, "doc_id", "text", maxDist, maxPostings = 4096)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("simhash hot bucket past maxPostings degrades to hub and still detects") {
    import spark.implicits._
    val template = WebPages.generate(1, 99L).head.text
    val hot = (0L until 50L).map(i => (i, template)).toDF("doc_id", "text")
    val probe = Seq((777L, template)).toDF("doc_id", "text")
    val index = SimHashDedup.probeIndex(hot, "doc_id", "text", 3)
    val got = SimHashDedup
      .incrementalPairs(index, probe, "doc_id", "text", 3, maxPostings = 8)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((777L, 0L)), s"hub pair missing: $got")
    assert(got.forall(_._1 == 777L))
  }

  test("substring incremental probe == brute-force common-substring truth") {
    val minLen = 200
    val truth = (for {
      (ib, tb) <- batchLocal
      (ic, tc) <- corpusLocal
      if TextOps.commonSubstringAtLeast(tb, tc, minLen)
    } yield (ib, ic)).toSet
    assert(truth.nonEmpty, "degenerate: no cross substring pairs (copies qualify)")
    val index = SubstringDedup.fpIndex(corpusDf, "doc_id", "text")
    val got = SubstringDedup
      .incrementalPairs(index, corpusDf, batchDf, "doc_id", "text", minLen)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth, s"missed=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
  }

  test("incremental CDC == batch lane's cross-side pairs (below cap), from the stored index alone") {
    val sq = spark
    import sq.implicits._
    val corpusDf = sq.createDataFrame(corpusLocal).toDF("doc_id", "text")
    val batchDf = sq.createDataFrame(batchLocal).toDF("doc_id", "text")
    // batch face over corpus ∪ batch, restricted to cross (corpus, batch)
    // pairs — exactly what the incremental face must reproduce (uncapped
    // on this corpus, so equality is strict)
    val batchPairs = graft.operators.DocChunker.cdcSharedChunkPairs(
        corpusDf.unionByName(batchDf), "doc_id", "text", minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .flatMap { case (a, b, n) =>
        // normalize to (new_id, corpus_id): ids < 1000 are corpus
        if (a < 1000 && b >= 1000) Some((b, a, n))
        else if (b < 1000 && a >= 1000) Some((a, b, n))
        else None
      }.toSet
    val index = graft.operators.DocChunker.cdcChunkIndex(corpusDf, "doc_id", "text")
    val inc = graft.operators.DocChunker.cdcIncrementalPairs(
        index, batchDf, "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === batchPairs)
    assert(inc.nonEmpty, "no cross pairs — vacuous equality")
    // the exact copies MUST pair with their originals (all chunks shared)
    val copies = batchLocal.collect { case (id, _) if id >= 2000 && id < 3000 => id }
    assert(copies.forall(id => inc.exists(p => p._1 == id && p._2 == id - 2000)),
      "an exact copy failed to match its corpus original")
  }

  test("incrementalAssign: engineered merge event — a batch doc bridging two corpus clusters") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val corpusIds = (0L to 9L).toDF("doc_id")
    val corpusEdges = Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b")
    val clusters = ConnectedComponents.clustersWithSingletons(corpusIds, "doc_id", corpusEdges)
    // batch doc 100 matches members of BOTH cluster 0 (via doc 1) and
    // cluster 2 (via doc 3): the clusters must merge under label 0 without
    // any corpus pair being re-read — the merge arrives as a map entry
    val cross = Seq((100L, 1L), (100L, 3L)).toDF("new_id", "corpus_id")
    val batchPairs = Seq((100L, 101L)).toDF("id_a", "id_b")
    val batchIds = Seq(100L, 101L, 102L).toDF("doc_id")
    val (assign, mergeMap) = ConnectedComponents.incrementalAssign(
      clusters, batchIds, cross, batchPairs, idCol = "doc_id")
    val a = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == Map(100L -> 0L, 101L -> 0L, 102L -> 102L), s"assign: $a")
    val m = mergeMap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(2L -> 0L), s"mergeMap: $m")
  }

  test("incrementalAssign ≡ full recompute over corpus ∪ batch (random graphs)") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val rnd = new scala.util.Random(4242)
    for (trial <- 0 until 3) {
      val nCorpus = 60; val nBatch = 25
      val corpusIds = (0L until nCorpus.toLong).toDF("doc_id")
      val corpusEdges = Seq.fill(40)((rnd.nextInt(nCorpus).toLong, rnd.nextInt(nCorpus).toLong))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")
      val batchIdSeq = (0 until nBatch).map(i => 1000L + i)
      val batchIds = batchIdSeq.toDF("doc_id")
      val cross = Seq.fill(20)((batchIdSeq(rnd.nextInt(nBatch)), rnd.nextInt(nCorpus).toLong))
        .distinct.toDF("new_id", "corpus_id")
      val batchPairs = Seq.fill(15)(
          (batchIdSeq(rnd.nextInt(nBatch)), batchIdSeq(rnd.nextInt(nBatch))))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")

      val clusters = ConnectedComponents.clustersWithSingletons(corpusIds, "doc_id", corpusEdges)
      val (assign, mergeMap) = ConnectedComponents.incrementalAssign(
        clusters, batchIds, cross, batchPairs, idCol = "doc_id")
      val incremental = clusters
        .join(mergeMap, Seq("component"), "left")
        .select(col("id"), coalesce(col("new_component"), col("component")).as("component"))
        .unionByName(assign)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val allIds = corpusIds.unionByName(batchIds)
      val allEdges = corpusEdges
        .unionByName(cross.select(col("new_id").as("id_a"), col("corpus_id").as("id_b")))
        .unionByName(batchPairs)
      val full = ConnectedComponents.clustersWithSingletons(allIds, "doc_id", allEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(incremental == full, s"trial $trial: ${incremental.toSet -- full.toSet}")
    }
  }

  test("index survives TableIO persistence and append maintenance catches the next batch") {
    val root = tmpDir("incnd")
    val io = new ParquetTableIO(spark, root)
    // epoch 0: persist the corpus index (partitioned by band — the probe
    // join's co-location/pruning key at scale)
    io.overwrite("band_index", MinHashLSH.bandIndex(corpusDf, "doc_id", "text"),
      partitionBy = Seq("band"))
    io.commit("band_index", "epoch-0")
    val reloaded = io.read("band_index")
    val got = MinHashLSH
      .incrementalNearDupPairs(reloaded, corpusDf, batchDf, "doc_id", "text", threshold)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == bruteTruth, "reloaded index must be probe-identical")

    // epoch 1: admit the batch — add its postings via the snapshot-native
    // keyed upsert ((id, band) is posting-unique; all keys are new, so
    // this IS the append face of upsert); a batch-2 copy of a BATCH-1 doc
    // (not in the original corpus) must now be caught
    io.upsert("band_index", MinHashLSH.bandIndex(batchDf, "doc_id", "text"),
      Seq("id", "band"))
    io.commit("band_index", "epoch-1")
    val texts = corpusDf.unionByName(batchDf)
    val batch2 = {
      import spark.implicits._
      Seq((9000L, batchLocal.head._2)).toDF("doc_id", "text")
    }
    val caught = MinHashLSH
      .incrementalNearDupPairs(io.read("band_index"), texts, batch2,
        "doc_id", "text", threshold)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(caught.contains((9000L, batchLocal.head._1)),
      s"appended postings not probed: $caught")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("compactPostings collapses a replayed append to the original index") {
    val index = MinHashLSH.bandIndex(corpusDf, "doc_id", "text")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getLong(2))
    val original = index.collect().map(key).toSet
    val replayed = index.unionByName(index) // at-least-once redelivery
    assert(replayed.count() == 2L * original.size)
    val compacted = MinHashLSH.compactPostings(replayed).collect().map(key)
    assert(compacted.length == original.size, "duplicates must collapse")
    assert(compacted.toSet == original, "compaction must not invent postings")
  }

  test("retainPostings drops losers' postings; probes then pair with survivors only") {
    import spark.implicits._
    // corpus with exact-copy clusters: ids 0..19 plus copies 100..119;
    // survivor of each cluster is the min id (0..19)
    val base = WebPages.generate(20, 55L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val corpus = (base ++ base.map { case (id, t) => (100L + id, t) })
      .toDF("doc_id", "text")
    val survivors = base.map(_._1).toDF("doc_id")
    val retained = MinHashLSH.retainPostings(
      MinHashLSH.bandIndex(corpus, "doc_id", "text"), survivors, "doc_id")
    assert(retained.select("id").distinct().collect().map(_.getLong(0)).toSet
      == base.map(_._1).toSet)
    // a probe that is a copy of a LOSER must still pair — with the survivor
    val probe = Seq((900L, base(3)._2)).toDF("doc_id", "text")
    val got = MinHashLSH
      .incrementalNearDupPairs(retained, corpus, probe, "doc_id", "text", 0.9)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((900L, 3L)), s"survivor pair missing: $got")
    assert(got.forall(_._2 < 100L), s"retired posting leaked into probe: $got")
  }
}

package graft.spark

import graft.core.ReqSketch
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingOpsSpec extends AnyFunSuite with SparkSuiteBase {

  test("windowed req_sketch under streaming groupBy with watermark") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "grp", "v")

    val agg = StreamingOps.windowedReqSketch(df, "ts", "v", "grp", "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("win_req")
      .outputMode("update").start()
    try {
      val t0 = 1700000000000L
      // two batches, one group, one window
      input.addData((1 to 500).map(i => (new Timestamp(t0 + i), "a", i.toDouble)): _*)
      q.processAllAvailable()
      input.addData((501 to 1000).map(i => (new Timestamp(t0 + i), "a", i.toDouble)): _*)
      q.processAllAvailable()

      val rows = sq.sql("SELECT * FROM win_req").collect()
      assert(rows.nonEmpty)
      val last = rows.maxBy(_.getAs[Long]("n"))
      assert(last.getAs[Long]("n") == 1000L)
      val sk = ReqSketch.deserialize(last.getAs[Array[Byte]]("len_sketch"))
      assert(sk.count == 1000L)
      assert(sk.minimum == 1.0 && sk.maximum == 1000.0)
      val p50 = sk.quantile(0.5)
      assert(p50 > 400 && p50 < 600, s"p50=$p50")
    } finally q.stop()
  }

  test("streaming incremental dedup: corpus copies vanish, stream copies collapse, fresh survive") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // static committed corpus + its Bloom filter and key table (batch side)
    val corpus = (0 until 40).map(i => (i.toLong, s"corpus doc number $i body"))
    val corpusDf = corpus.toDF("doc_id", "text")
    val bloom = graft.operators.ExactDedup.corpusBloom(corpusDf, "text",
      expectedItems = 100L, fpp = 0.01)
    val corpusKeys = corpusDf.select(xxhash64(col("text")).as("k"))

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val out = StreamingOps.streamingIncrementalDedup(stream, "text", corpusKeys, "k", bloom)
    val q = out.writeStream.format("memory").queryName("inc_dedup")
      .outputMode("append").start()
    try {
      // batch 1: 5 corpus copies (drop), 3 fresh docs one of which repeats
      // in-batch (collapse to first)
      input.addData(
        (100L, corpus(3)._2), (101L, corpus(7)._2), (102L, corpus(11)._2),
        (103L, corpus(19)._2), (104L, corpus(23)._2),
        (110L, "fresh alpha"), (111L, "fresh beta"), (112L, "fresh alpha"))
      q.processAllAvailable()
      // batch 2: another corpus copy, a cross-batch stream dup, a fresh doc
      input.addData((120L, corpus(5)._2), (121L, "fresh beta"), (122L, "fresh gamma"))
      q.processAllAvailable()
      val kept = sq.sql("SELECT doc_id, text FROM inc_dedup").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kept.map(_._2) == Set("fresh alpha", "fresh beta", "fresh gamma"))
      // first arrival wins within the stream
      assert(kept.exists(p => p._2 == "fresh alpha" && p._1 == 110L))
      assert(kept.exists(p => p._2 == "fresh beta" && p._1 == 111L))
    } finally q.stop()
  }

  test("windowed freq_sketch: streaming heavy hitters keep MG guarantees per window") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "grp", "text")
    val agg = StreamingOps.windowedFreqSketch(df, "ts", "text", "grp",
      "10 minutes", "5 minutes", maxMapSize = 8)
    val q = agg.writeStream.format("memory").queryName("win_freq")
      .outputMode("update").start()
    try {
      val t0 = 1700000000000L
      // skewed token stream across two batches: "hot" dominates
      input.addData((1 to 100).map(i =>
        (new Timestamp(t0 + i), "a", s"hot tok$i hot")): _*)
      q.processAllAvailable()
      input.addData((1 to 50).map(i =>
        (new Timestamp(t0 + 200 + i), "a", s"hot cold$i")): _*)
      q.processAllAvailable()
      val rows = sq.sql("SELECT * FROM win_freq").collect()
      assert(rows.nonEmpty)
      val last = rows.maxBy(_.getAs[Long]("n_tokens"))
      assert(last.getAs[Long]("n_tokens") == 400L) // 100*3 + 50*2
      val sk = graft.core.FreqSketch.deserialize(last.getAs[Array[Byte]]("tok_sketch"))
      assert(sk.streamWeight == 400L)
      assert(sk.maxError * 9 <= 2L * 400L)
      // "hot" (250 occurrences) is far above maxError -> guaranteed tracked
      assert(sk.contains("hot"))
      assert(sk.lowerBound("hot") <= 250L && 250L <= sk.upperBound("hot"))
      assert(sk.topK(1).head.item == "hot")
    } finally q.stop()
  }

  test("windowed cms_sketch: streamed micro-batches == batch pass, byte-identical (linearity)") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val df = input.toDF().toDF("ts", "grp", "text")
    val agg = StreamingOps.windowedCmsSketch(df, "ts", "text", "grp",
      "10 minutes", "5 minutes", depth = 4, width = 64)
    val q = agg.writeStream.format("memory").queryName("win_cms")
      .outputMode("update").start()
    val rows = (1 to 150).map(i =>
      (new Timestamp(1700000000000L + i), "a", s"hot tok${i % 23} hot"))
    try {
      // three arbitrary micro-batch boundaries
      input.addData(rows.take(40): _*); q.processAllAvailable()
      input.addData(rows.slice(40, 90): _*); q.processAllAvailable()
      input.addData(rows.drop(90): _*); q.processAllAvailable()
      val last = sq.sql("SELECT * FROM win_cms").collect()
        .maxBy(_.getAs[Long]("n_tokens"))
      assert(last.getAs[Long]("n_tokens") == 450L)
      val streamed = last.getAs[Array[Byte]]("tok_cms")
      // batch truth over the same rows: linearity -> byte-identical
      GraftFunctions.register(sq)
      val batch = rows.toDF("ts", "grp", "text")
        .select(explode(split(trim(col("text")), "\\s+")).as("_tok"))
        .agg(expr("cms_sketch(_tok, 4, 64)")).first().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(streamed, batch))
      val sk = graft.core.CmsSketch.deserialize(streamed)
      assert(sk.estimate("hot") >= 300L && sk.rowsConserved)
    } finally q.stop()
  }

  test("streaming exact dedup keeps first occurrence per content hash") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("id", "text")
    val q = StreamingOps.streamingExactDedup(df, "text")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      input.addData((4L, "beta"), (5L, "gamma"))
      q.processAllAvailable()
      val texts = sq.sql("SELECT text FROM sdedup").collect().map(_.getString(0)).sorted
      assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("streaming text faces skip a NULL text row like the batch kernels") {
    val sq = spark
    import sq.implicits._
    import graft.core.TextOps
    import org.apache.spark.sql.{DataFrame, Dataset}
    import StreamingOps.BandedDoc
    val texts = graft.core.WebPages.generate(8, 31L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val withNull = (texts :+ ((99L, null: String))).toDF("id", "text")
    val nonNull = texts.toDF("id", "text")
    // each face with the per-doc kernel it must agree with on non-NULL text
    val faces = Seq[(String, DataFrame => Dataset[BandedDoc], String => Seq[Long])](
      ("bandDocs", StreamingOps.bandDocs(_, "id", "text"),
        t => TextOps.bandHashes(TextOps.minHash(t)).toSeq),
      ("weightedBandDocs", StreamingOps.weightedBandDocs(_, "id", "text"),
        t => TextOps.bandHashes(TextOps.weightedMinHash(t)).toSeq),
      ("fpDocs", StreamingOps.fpDocs(_, "id", "text"),
        t => TextOps.winnowedFingerprints(t).toSeq),
      ("simhashProbeDocs", StreamingOps.simhashProbeDocs(_, "id", "text"),
        t => TextOps.simHashProbeKeys(TextOps.simHash64(t), 3).toSeq))
    def sorted(rows: Seq[BandedDoc]) = rows.sortBy(b => (b.id, b.bucket))
    for ((name, face, kernel) <- faces) {
      val got = sorted(face(withNull).collect().toSeq)
      val want = sorted(face(nonNull).collect().toSeq)
      assert(want.nonEmpty, s"$name: vacuous")
      assert(got == want, s"$name: a NULL text row changed the output")
      val ref = sorted(texts.flatMap { case (id, t) => kernel(t).map(BandedDoc(_, id)) })
      assert(want == ref, s"$name: rows differ from the per-doc kernel")
    }
  }

  test("stateful streaming LSH candidate pairs match batch lane candidates") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val pages = graft.core.WebPages.generate(200, 21L)
    val docs = pages.zipWithIndex.map { case (p, i) => (i.toLong, p.text) }

    val input = MemoryStream[(Long, String)]
    val streamBanded = StreamingOps.bandDocs(input.toDF().toDF("id", "text"), "id", "text")
    val q = StreamingOps.streamingCandidatePairs(streamBanded)
      .writeStream.format("memory").queryName("scand").outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(100)
      input.addData(first: _*)
      q.processAllAvailable()
      input.addData(second: _*)
      q.processAllAvailable()
      val streamPairs = sq.sql("SELECT id_a, id_b FROM scand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      // batch lane on the same corpus
      val batchDf = sq.createDataFrame(docs).toDF("id", "text")
      val batchPairs = graft.operators.MinHashLSH.candidatePairs(batchDf, "id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      assert(batchPairs.subsetOf(streamPairs),
        s"missing from stream: ${(batchPairs -- streamPairs).take(5)}")
    } finally q.stop()
  }

  test("streaming url refresh: latest-wins final state == batch recompute, out-of-order + replay folded") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext

    // 40 urls x up to 4 snapshots, delivered out of order across 3 batches,
    // with one exact replay batch in the middle
    val snaps = (0L until 40L).flatMap { u =>
      val url = s"https://h${u % 5}.example.com/p$u"
      val v0 = StreamingOps.UrlSnap(url, ts = 100 + u, ck = u * 7)
      val v1 = StreamingOps.UrlSnap(url, ts = 200 + u, ck = if (u % 3 == 0) u * 7 + 1 else u * 7)
      val v2 = StreamingOps.UrlSnap(url, ts = 300 + u, ck = if (u % 4 == 0) u * 7 + 2 else v1.ck)
      if (u % 2 == 0) Seq(v2, v0, v1) else Seq(v1, v0, v2) // out of order
    }
    val (b1, rest) = snaps.splitAt(50)
    val (b2, b3) = rest.splitAt(40)

    val input = MemoryStream[StreamingOps.UrlSnap]
    val q = StreamingOps.streamingUrlRefresh(input.toDS())
      .writeStream.format("memory").queryName("srefresh").outputMode("update").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable() // replayed below
      input.addData(b2: _*); q.processAllAvailable() // exact replay batch
      input.addData(b3: _*); q.processAllAvailable()

      // final state per url = the last update-mode emission (max n_snapshots)
      val fin = sq.sql(
        """SELECT url, kept_ts, kept_ck, n_versions, changed FROM (
          |  SELECT *, row_number() OVER (PARTITION BY url ORDER BY n_snapshots DESC) rn
          |  FROM srefresh) WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))).toMap

      // batch truth over the delivered multiset (replays change nothing
      // here: kept snapshot is max-ts, versions are a set)
      val truth = snaps.groupBy(_.url).map { case (url, ss) =>
        val kept = ss.maxBy(_.ts)
        val vs = ss.map(_.ck).distinct
        url -> ((kept.ts, kept.ck, vs.length, vs.length > 1))
      }
      assert(fin === truth)
      // the changed flag fires exactly for urls whose content ever moved
      assert(fin.count(_._2._4) === (0L until 40L).count(u => u % 3 == 0 || u % 4 == 0))
    } finally q.stop()
  }

  test("stateful streaming embedding LSH candidates cover cross-batch near-dup pairs") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // isotropic base vectors + a perturbed near-dup of each 5th, planted in
    // the SECOND batch so candidates must flow through the bucket state
    def vec(id: Long, dim: Int): Array[Double] = {
      val v = Array.tabulate(dim) { i =>
        val h = graft.core.SplitMix64.mix((id << 16) ^ i.toLong ^ 0xABCDL)
        h.toDouble / Long.MaxValue.toDouble
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val base = (0L until 100L).map(id => (id, vec(id, 32)))
    val dups = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 1000L, v.zipWithIndex.map { case (x, i) => x + 0.03 * math.sin(id + i) })
    }
    val threshold = 0.9

    val input = MemoryStream[(Long, Array[Double])]
    val banded = StreamingOps.bandVecs(
      input.toDF().toDF("id", "v"), "id", "v", threshold, targetRecall = 0.99)
    val q = StreamingOps.streamingCandidatePairs(banded)
      .writeStream.format("memory").queryName("vcand").outputMode("append").start()
    try {
      input.addData(base: _*)
      q.processAllAvailable()
      input.addData(dups: _*)
      q.processAllAvailable()
      val cands = sq.sql("SELECT id_a, id_b FROM vcand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // every true pair above threshold must be candidate'd (tuned banding
      // at cos~0.99 margin misses with prob ~1e-10)
      val truth = graft.operators.AnnSearch.bruteForcePairs(base ++ dups, threshold)
      assert(truth.nonEmpty)
      assert(truth.subsetOf(cands), s"missing: ${(truth -- cands).take(5)}")
    } finally q.stop()
  }

  test("streaming CDC candidates cover the batch lane's pairs across micro-batches") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // corpus with head-edited copies (the edit CDC chunking exists for):
    // every 5th doc re-appears with a 3-token head insertion
    val base = graft.core.WebPages.generate(150, 33L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val edited = base.collect { case (id, t) if id % 5 == 0 =>
      (5000L + id, s"ins$id x y " + t) }
    val docs = base ++ edited

    val input = MemoryStream[(Long, String)]
    val banded = StreamingOps.cdcBandDocs(input.toDF().toDF("id", "text"), "id", "text")
    val q = StreamingOps.streamingCandidatePairs(banded)
      .writeStream.format("memory").queryName("scdc").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2) // copies land cross-batch
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamPairs = sq.sql("SELECT DISTINCT id_a, id_b FROM scdc").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      val batchPairs = graft.operators.DocChunker.cdcSharedChunkPairs(
          sq.createDataFrame(docs).toDF("doc_id", "text"), "doc_id", "text",
          minShared = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "no batch CDC pairs — vacuous coverage")
      assert(batchPairs.subsetOf(streamPairs),
        s"missing from stream: ${(batchPairs -- streamPairs).take(5)}")
      // every injected copy is a candidate with its original
      assert(edited.forall { case (eid, _) =>
        streamPairs.contains((eid - 5000L, eid)) })
    } finally q.stop()
  }

  test("streaming weighted-band candidates cover the weighted batch lane's pairs across micro-batches") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // tf-divergent copies: every 5th doc re-appears with its first ~n/12
    // tokens duplicated (J_w ≈ 12/13) — the weighted lane's planted shape
    val base = graft.core.WebPages.generate(150, 66L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val tfDups = base.collect { case (id, t) if id % 5 == 0 =>
      val tk = t.trim.split("\\s+").filter(_.nonEmpty)
      (8000L + id, t + " " + tk.take(1 + tk.length / 12).mkString(" "))
    }
    val docs = base ++ tfDups

    val input = MemoryStream[(Long, String)]
    val banded = StreamingOps.weightedBandDocs(input.toDF().toDF("id", "text"), "id", "text")
    val q = StreamingOps.streamingCandidatePairs(banded)
      .writeStream.format("memory").queryName("swgt").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2) // copies land cross-batch
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamPairs = sq.sql("SELECT DISTINCT id_a, id_b FROM swgt").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      val batchPairs = graft.operators.MinHashLSH.weightedNearDupPairs(
          sq.createDataFrame(docs).toDF("doc_id", "text"), "doc_id", "text",
          threshold = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "no batch weighted pairs — vacuous coverage")
      assert(batchPairs.subsetOf(streamPairs),
        s"missing from stream: ${(batchPairs -- streamPairs).take(5)}")
      // every injected tf-divergent copy is a candidate with its original
      assert(tfDups.forall { case (did, _) =>
        streamPairs.contains((did - 8000L, did)) })
    } finally q.stop()
  }

  test("streaming substring candidates cover the batch lane's verified pairs across micro-batches") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    // corpus with long-span splices: every 7th doc (if long enough)
    // re-appears with its first 250 chars glued into fresh text — an exact
    // >= 200-char common substring the winnowing prefilter must catch
    val base = graft.core.WebPages.generate(120, 44L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val spliced = base.collect { case (id, t) if id % 7 == 0 && t.length >= 250 =>
      (7000L + id, s"fresh head $id " + t.substring(0, 250) + s" fresh tail $id") }
    assert(spliced.nonEmpty)
    val docs = base ++ spliced

    val input = MemoryStream[(Long, String)]
    val banded = StreamingOps.fpDocs(input.toDF().toDF("id", "text"), "id", "text")
    val q = StreamingOps.streamingCandidatePairs(banded)
      .writeStream.format("memory").queryName("ssub").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2) // splices land cross-batch
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamPairs = sq.sql("SELECT DISTINCT id_a, id_b FROM ssub").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      // batch truth = the lane's VERIFIED pairs (shared exact >=200-char
      // span); the streamed candidates must cover them — the winnowing
      // completeness guarantee, now across micro-batch boundaries
      val batchPairs = graft.operators.SubstringDedup.pairs(
          sq.createDataFrame(docs).toDF("doc_id", "text"), "doc_id", "text",
          minLen = 200)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchPairs.nonEmpty, "no batch substring pairs — vacuous coverage")
      assert(batchPairs.subsetOf(streamPairs),
        s"missing from stream: ${(batchPairs -- streamPairs).take(5)}")
      // every injected splice is a candidate with its original
      assert(spliced.forall { case (sid, _) =>
        streamPairs.contains((sid - 7000L, sid)) })
    } finally q.stop()
  }

  test("streaming simhash probe candidates cover all cross-Hamming pairs across micro-batches") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val maxDist = 3
    // near-dups: every 6th long-enough doc re-appears with one appended
    // token (small Hamming perturbation of the 64-bit simhash)
    val base = graft.core.WebPages.generate(120, 55L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    val tweaked = base.collect { case (id, t) if id % 6 == 0 && t.length >= 400 =>
      (6000L + id, t + s" tail$id") }
    assert(tweaked.nonEmpty)
    val docs = base ++ tweaked

    val input = MemoryStream[(Long, String)]
    val banded = StreamingOps.simhashProbeDocs(
      input.toDF().toDF("id", "text"), "id", "text", maxDist)
    val q = StreamingOps.streamingCandidatePairs(banded)
      .writeStream.format("memory").queryName("ssim").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamPairs = sq.sql("SELECT DISTINCT id_a, id_b FROM ssim").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // pigeonhole completeness, now across micro-batch boundaries: every
      // pair within Hamming maxDist must be a streamed candidate
      val sims = docs.map { case (id, t) => (id, graft.core.TextOps.simHash64(t)) }
      val truth = (for {
        (ia, sa) <- sims; (ib, sb) <- sims
        if ia < ib && graft.core.TextOps.hammingDistance(sa, sb) <= maxDist
      } yield (ia, ib)).toSet
      assert(truth.nonEmpty, "no cross-Hamming pairs — vacuous coverage")
      assert(truth.subsetOf(streamPairs),
        s"missing from stream: ${(truth -- streamPairs).take(5)}")
    } finally q.stop()
  }

  test("over-cap bucket arrivals emit star edges to the hub (batch hot-bucket parity)") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val input = MemoryStream[StreamingOps.BandedDoc]
    // one bucket, cap 3: ids 5,9,2 store (hub tracks min = 2); 7 and 8
    // arrive over-cap and must still connect via a star edge to 2
    val q = StreamingOps.streamingCandidatePairs(input.toDS(), maxBucketSize = 3)
      .writeStream.format("memory").queryName("starcap").outputMode("append").start()
    try {
      input.addData(Seq(5L, 9L, 2L).map(StreamingOps.BandedDoc(77L, _)): _*)
      q.processAllAvailable()
      input.addData(Seq(7L, 8L).map(StreamingOps.BandedDoc(77L, _)): _*)
      q.processAllAvailable()
      val pairs = sq.sql("SELECT id_a, id_b FROM starcap").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((2L, 7L)), s"over-cap doc 7 not starred to hub: $pairs")
      assert(pairs.contains((2L, 8L)), s"over-cap doc 8 not starred to hub: $pairs")
      // stored phase emitted all-pairs among 5,9,2
      assert(pairs.contains((5L, 9L)) && pairs.contains((2L, 5L)) && pairs.contains((2L, 9L)))
    } finally q.stop()
  }

  test("a 10^4-member hot bucket stays O(cap): stars only, no quadratic emission") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val cap = 64
    val n = 10000
    val input = MemoryStream[StreamingOps.BandedDoc]
    val q = StreamingOps.streamingCandidatePairs(input.toDS(), maxBucketSize = cap)
      .writeStream.format("memory").queryName("hotcap").outputMode("append").start()
    try {
      // id 1 first so it is the hub; then 10^4 arrivals into the same bucket
      input.addData((1 to n).map(i => StreamingOps.BandedDoc(42L, i.toLong)): _*)
      q.processAllAvailable()
      // under-cap phase: C(cap,2) all-pairs; over-cap phase: one star edge
      // per arrival to hub id 1 — a List.contains/quadratic regression
      // would emit ~5*10^7 pairs (and crawl); the bound is exact
      val count = sq.sql("SELECT count(*) FROM hotcap").collect().head.getLong(0)
      val expected = cap.toLong * (cap - 1) / 2 + (n - cap)
      assert(count == expected, s"emitted $count pairs, expected $expected")
      val stars = sq.sql(s"SELECT count(*) FROM hotcap WHERE id_a = 1 AND id_b > $cap")
        .collect().head.getLong(0)
      assert(stars == (n - cap).toLong, s"over-cap arrivals not starred to hub: $stars")
    } finally q.stop()
  }

  test("expiring variant drops idle bucket state once the watermark passes its ttl") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val t0 = 1700000000000L
    def ts(offsetMin: Long) = new Timestamp(t0 + offsetMin * 60000L)
    val input = MemoryStream[StreamingOps.TimedBandedDoc]
    val banded = input.toDS().withWatermark("ts", "10 minutes")
      .as[StreamingOps.TimedBandedDoc]
    val q = StreamingOps.streamingCandidatePairsExpiring(banded, maxBucketSize = 100,
        ttlMs = 60L * 60000L) // 1h ttl
      .writeStream.format("memory").queryName("ttlcand").outputMode("append").start()
    try {
      // bucket A gets two members at t=0 -> pair (1,2); timeout armed at 1h
      input.addData(StreamingOps.TimedBandedDoc(7L, 1L, ts(0)),
        StreamingOps.TimedBandedDoc(7L, 2L, ts(0)))
      q.processAllAvailable()
      // other-bucket traffic advances the watermark past A's timeout
      // (watermark = max event time - 10m, updated after the batch)...
      input.addData(StreamingOps.TimedBandedDoc(8L, 50L, ts(180)))
      q.processAllAvailable()
      // ...and the NEXT batch fires A's timeout (A has no data in it)
      input.addData(StreamingOps.TimedBandedDoc(8L, 51L, ts(190)))
      q.processAllAvailable()
      // A's state is gone: a new member pairs with nobody
      input.addData(StreamingOps.TimedBandedDoc(7L, 3L, ts(200)))
      q.processAllAvailable()
      val pairs = sq.sql("SELECT id_a, id_b FROM ttlcand").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), s"pre-expiry pair missing: $pairs")
      assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
        s"expired bucket state survived — id 3 paired with stale members: $pairs")
      // the live bucket 8 kept its state across those batches
      assert(pairs.contains((50L, 51L)), s"live bucket lost state: $pairs")
    } finally q.stop()
  }

  test("streaming table sink: per-epoch upsert commits, time travel, replay idempotence") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val root = tmpDir("ssink")
    val io = new graft.pipeline.ParquetTableIO(sq, root)
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.sinkToTable(
      input.toDF().toDF("id", "x"), io, "t", Seq("id"), "ssink")
    try {
      input.addData((1L, "a1"), (2L, "b1"), (3L, "c1")); q.processAllAvailable()
      input.addData((2L, "b2"), (4L, "d1")); q.processAllAvailable()
      input.addData((4L, "d2")); q.processAllAvailable()
      val got = io.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got == Map(1L -> "a1", 2L -> "b2", 3L -> "c1", 4L -> "d2"))
      // one committed snapshot per non-empty epoch, epoch in the fingerprint
      val snaps = io.snapshots("t")
      assert(snaps.size == 3 && snaps.forall(_._2.startsWith("ssink-epoch-")))
      // time travel: the corpus as of the first epoch
      val v1 = io.readAt("t", snaps.head._1).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(v1 == Map(1L -> "a1", 2L -> "b1", 3L -> "c1"))
      // replay idempotence: Spark re-delivering a seen epoch is a no-op
      val before = io.snapshots("t")
      val applied = StreamingOps.applyEpoch(io, "t", Seq("id"),
        Seq((2L, "SHOULD-NOT-LAND")).toDF("id", "x"), "ssink-epoch-1")
      assert(!applied && io.snapshots("t") == before)
      assert(io.read("t").filter($"x" === "SHOULD-NOT-LAND").count() == 0)
    } finally q.stop()
  }

  test("sink crash between upsert write and commit: epoch replay recovers") {
    val sq = spark
    import sq.implicits._
    val root = tmpDir("scrash")
    val io = new graft.pipeline.ParquetTableIO(sq, root)
    // epoch 0 lands cleanly
    assert(StreamingOps.applyEpoch(io, "t", Seq("id"),
      Seq((1L, "a1"), (2L, "b1")).toDF("id", "x"), "e0"))
    // epoch 1 crashes BETWEEN upsert's overwrite and its commit: reproduce
    // that exact on-disk state by running the upsert write without the
    // trailing commit — the head snapshot exists but is not in the log
    io.upsert("t", Seq((2L, "b2"), (3L, "c1")).toDF("id", "x"), Seq("id"))
    assert(io.committedFingerprint("t").isEmpty, "fixture: head must be uncommitted")
    // restart replays epoch 1: must discard the partial head and re-apply,
    // not wedge on upsert's committed-head requirement
    val applied = StreamingOps.applyEpoch(io, "t", Seq("id"),
      Seq((2L, "b2"), (3L, "c1")).toDF("id", "x"), "e1")
    assert(applied)
    assert(io.committedFingerprint("t").contains("e1"))
    val got = io.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "a1", 2L -> "b2", 3L -> "c1"))
    // and the epoch is now idempotent like any committed one
    assert(!StreamingOps.applyEpoch(io, "t", Seq("id"),
      Seq((2L, "SHOULD-NOT-LAND")).toDF("id", "x"), "e1"))
  }

  test("streaming clustering: folded micro-batches == full batch recompute; merges + replay + crash recovery") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val root = tmpDir("sclu")
    val io = new graft.pipeline.ParquetTableIO(sq, root)
    val base = graft.core.WebPages.generate(120, 88L).zipWithIndex
      .map { case (p, i) => (i.toLong, p.text) }
    // engineered MERGE trio: A (batch 1) and B (batch 2) are sub-threshold
    // siblings — six appended tokens add six shingles each, so
    // J(A,B) = 76/88 ≈ 0.86 < 0.9 — while C (batch 3) is >= 0.9 similar to
    // BOTH (76/82 ≈ 0.93): C's epoch must merge A's and B's clusters via
    // the merge map, never by rewriting the clusters table
    val t80 = (1 to 80).map(i => s"mword$i").mkString(" ")
    val trioA = (9001L, t80 + " a1 a2 a3 a4 a5 a6")
    val trioB = (9002L, t80 + " b1 b2 b3 b4 b5 b6")
    val trioC = (9003L, t80)
    // cross-epoch near-dup copies: every 4th batch-1 doc re-appears in
    // batch 2 with one appended token (index-probe links), every 6th
    // batch-2 doc re-appears in batch 3
    val b1 = base.slice(0, 40) :+ trioA
    val b2 = base.slice(40, 80) ++
      b1.collect { case (id, t) if id < 40 && id % 4 == 0 => (5000L + id, t + s" x$id") } :+ trioB
    val b3 = base.slice(80, 120) ++
      b2.collect { case (id, t) if id >= 40 && id < 80 && id % 6 == 0 => (6000L + id, t + s" y$id") } :+ trioC

    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.streamingClusterAssign(
      input.toDF().toDF("id", "text"), "id", "text", io, "sclu",
      threshold = 0.9, maxPostings = 4096, queryName = "sclu")
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()

    val all = b1 ++ b2 ++ b3
    val allDf = sq.createDataFrame(all).toDF("id", "text")
    val truth = graft.operators.ConnectedComponents.clustersWithSingletons(
        allDf.select("id"), "id",
        graft.operators.MinHashLSH.nearDupPairs(allDf, "id", "text", 0.9, 4096))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = StreamingOps.currentAssignment(io, "sclu")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"stream != batch recompute; diff sample: ${(got -- truth).take(3)} / ${(truth -- got).take(3)}")
    // the trio really merged, and through the merge map (non-vacuous)
    val comp = got.toMap
    assert(comp(9001L) == comp(9002L) && comp(9002L) == comp(9003L))
    assert(io.read("sclu_merges").count() > 0, "merge map empty — merge case vacuous")

    // replay of a committed epoch: no-op even with different contents
    val before = Seq("sclu_clusters", "sclu_merges", "sclu_corpus", "sclu_index")
      .map(t => io.snapshots(t))
    val applied = StreamingOps.applyClusterEpoch(io, "sclu",
      Seq((9999L, "SHOULD NOT LAND")).toDF("id", "text"), "id", "text",
      0.9, 4096, "sclu-epoch-2")
    assert(!applied)
    assert(Seq("sclu_clusters", "sclu_merges", "sclu_corpus", "sclu_index")
      .map(t => io.snapshots(t)) == before)

    // crash recovery: an uncommitted head left by a dead epoch attempt is
    // discarded and the epoch re-applies cleanly
    io.upsert("sclu_corpus", Seq((7777L, "partial")).toDF("id", "text"), Seq("id"))
    assert(io.committedFingerprint("sclu_corpus").isEmpty)
    val b4 = Seq((7777L, base(0)._2 + " z0"))
    assert(StreamingOps.applyClusterEpoch(io, "sclu",
      sq.createDataFrame(b4).toDF("id", "text"), "id", "text", 0.9, 4096, "sclu-epoch-3"))
    val truth2 = graft.operators.ConnectedComponents.clustersWithSingletons(
        sq.createDataFrame(all ++ b4).toDF("id", "text").select("id"), "id",
        graft.operators.MinHashLSH.nearDupPairs(
          sq.createDataFrame(all ++ b4).toDF("id", "text"), "id", "text", 0.9, 4096))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got2 = StreamingOps.currentAssignment(io, "sclu")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == truth2)
  }

  test("re-arrived ids that are stored cluster labels: retired and live collisions re-mint cleanly") {
    val sq = spark
    import sq.implicits._
    val root = tmpDir("sclu2")
    val io = new graft.pipeline.ParquetTableIO(sq, root)
    val t80 = (1 to 80).map(i => s"nword$i").mkString(" ")
    val u80 = (1 to 80).map(i => s"uword$i").mkString(" ")
    val novel5 = (1 to 80).map(i => s"fresh5w$i").mkString(" ")
    val novel13 = (1 to 80).map(i => s"fresh13w$i").mkString(" ")
    def ep(n: Int, docs: (Long, String)*): Unit = assert(StreamingOps.applyClusterEpoch(
      io, "sclu2", sq.createDataFrame(docs).toDF("id", "text"), "id", "text",
      0.9, 4096, s"sclu2-epoch-$n"))
    // RETIRED-label case: 3 and 5 are sub-threshold siblings; 9 merges
    // their clusters (label 5 retires into 3 via the merge map); then doc
    // 5 re-arrives with novel text — its fresh singleton label 5 must NOT
    // compose through the stale (5 -> 3) entry into cluster 3.
    ep(0, (3L, t80 + " a1 a2 a3 a4 a5 a6"), (5L, t80 + " b1 b2 b3 b4 b5 b6"))
    ep(1, (9L, t80))
    val mid = StreamingOps.currentAssignment(io, "sclu2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mid(3L) == mid(5L) && mid(5L) == mid(9L), s"merge trio failed: $mid")
    ep(2, (5L, novel5))
    // LIVE-label case: 13 is the min member (= the label) of a surviving
    // cluster {13,18,19}; its refresh must relabel the remaining members
    // to their new min id instead of colliding with the fresh singleton 13.
    ep(3, (13L, u80), (18L, u80 + " s8"), (19L, u80 + " s9"))
    ep(4, (13L, novel13))
    // the stored IDENTITY entry (5 -> 5) must yield when the re-minted
    // label 5 merges again: doc 4 near-dups doc 5's new text, so mergeMap
    // carries (5 -> 4) while the identity row would re-point to the same
    // key — without the mergeMap-wins exclusion the upsert crash-loops on
    // duplicate keys
    ep(5, (4L, novel5 + " k1 k2"))
    // an entry TARGETING a live label that is both relabeled and re-merged
    // in one epoch: doc 12 joins cluster 18 (map entry 18 -> 12), then doc
    // 12 re-arrives with still-similar text — retargeted would emit
    // (18 -> 18) while mergeMap emits (18 -> 12)
    ep(6, (12L, u80 + " s12a"))
    ep(7, (12L, u80 + " s12b"))
    // final state must equal a batch recompute over the LATEST text per id
    val all = Seq((3L, t80 + " a1 a2 a3 a4 a5 a6"), (9L, t80), (5L, novel5),
      (4L, novel5 + " k1 k2"), (13L, novel13), (18L, u80 + " s8"),
      (19L, u80 + " s9"), (12L, u80 + " s12b"))
    val allDf = sq.createDataFrame(all).toDF("id", "text")
    val truth = graft.operators.ConnectedComponents.clustersWithSingletons(
        allDf.select("id"), "id",
        graft.operators.MinHashLSH.nearDupPairs(allDf, "id", "text", 0.9, 4096))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = StreamingOps.currentAssignment(io, "sclu2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"label collision mishandled: got ${got.toSeq.sorted} vs ${truth.toSeq.sorted}")
    val m = got.toMap
    assert(m(13L) == 13L, s"refreshed doc must be a fresh singleton: $m")
    assert(m(5L) == 4L && m(4L) == 4L, s"re-minted label must merge onward: $m")
    assert(m(12L) == 12L && m(18L) == 12L && m(19L) == 12L,
      s"re-arrived still-similar min-label doc must rejoin its cluster: $m")
    assert(m(3L) == 3L && m(9L) == 3L)
  }

  test("cluster-epoch crash after _clusters commit, before _merges: replay converges with a collision in flight") {
    val sq = spark
    import sq.implicits._
    import scala.sys.process._
    val root = tmpDir("sclu3")
    val io = new graft.pipeline.ParquetTableIO(sq, root)
    val u80 = (1 to 80).map(i => s"vword$i").mkString(" ")
    val novel = (1 to 80).map(i => s"fresh13v$i").mkString(" ")
    def ep(n: Int, docs: (Long, String)*): Unit = assert(StreamingOps.applyClusterEpoch(
      io, "sclu3", sq.createDataFrame(docs).toDF("id", "text"), "id", "text",
      0.9, 4096, s"sclu3-epoch-$n"))
    ep(0, (13L, u80), (18L, u80 + " s8"), (19L, u80 + " s9")) // cluster {13,18,19} labeled 13
    // snapshot the tables that commit AFTER _clusters in the epoch order
    val later = Seq("sclu3_merges", "sclu3_corpus", "sclu3_index")
    later.foreach(t => Seq("cp", "-r", s"$root/$t", s"$root/$t.bak").!!)
    ep(1, (13L, novel)) // live-label collision epoch: survivors relabel to 18
    val want = StreamingOps.currentAssignment(io, "sclu3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // crash injection: _clusters committed epoch 1 (with the relabeled
    // survivor rows), the later tables did not — restore their pre-epoch
    // state byte-for-byte
    later.foreach { t =>
      Seq("rm", "-rf", s"$root/$t").!!
      Seq("mv", s"$root/$t.bak", s"$root/$t").!!
    }
    assert(io.snapshots("sclu3_clusters").exists(_._2 == "sclu3-epoch-1"))
    assert(!io.snapshots("sclu3_merges").exists(_._2 == "sclu3-epoch-1"))
    ep(1, (13L, novel)) // replay: cleanup re-derives as a no-op, rest commits
    val got = StreamingOps.currentAssignment(io, "sclu3").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"crash replay diverged: $got vs $want")
    val m2 = got.toMap
    assert(m2(13L) == 13L && m2(18L) == 18L && m2(19L) == 18L)
  }

  test("stream-stream interval join (attribution): inner results == batch run") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val base = 1700000000000L
    val min = 60000L
    // clicks/purchases straddle the 30-min window: user 1 has 2 clicks
    // inside + 1 outside; user 2's click is AT the boundary (inclusive);
    // user 3 purchases with no click; user 4 clicks with no purchase
    val clicks: Seq[(Long, Timestamp, Long)] = Seq(
      (1L, 0L, 100L), (1L, 20L, 101L), (1L, 61L, 102L),
      (2L, 10L, 200L), (4L, 5L, 400L))
      .map { case (u, m, id) => (u, new Timestamp(base + m * min), id) }
    val purchases: Seq[(Long, Timestamp, Long)] = Seq(
      (1L, 30L, 900L), (1L, 75L, 901L), (2L, 40L, 902L), (3L, 50L, 903L))
      .map { case (u, m, id) => (u, new Timestamp(base + m * min), id) }
    val ci = MemoryStream[(Long, Timestamp, Long)]
    val pi = MemoryStream[(Long, Timestamp, Long)]
    // watermark wide enough that the deliberately out-of-order arrivals
    // below (u2's m=10 click lands after m=75 purchases raised the
    // global watermark) are buffered, not dropped as late
    val joined = StreamingOps.attributionJoin(
      ci.toDF().toDF("user", "ts", "id"), pi.toDF().toDF("user", "ts", "id"),
      "user", "ts", "id", windowSec = 1800, watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName("attr")
      .outputMode("append").start()
    try {
      // interleave arrivals across micro-batches (purchases before their
      // clicks in one batch — the state buffering must hold both sides)
      ci.addData(clicks.take(2): _*); q.processAllAvailable()
      pi.addData(purchases.take(2): _*); q.processAllAvailable()
      ci.addData(clicks.drop(2): _*); q.processAllAvailable()
      pi.addData(purchases.drop(2): _*); q.processAllAvailable()
      val got = sq.sql("SELECT user_id, click_id, purchase_id FROM attr")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = StreamingOps.attributionJoin(
          clicks.toDF("user", "ts", "id"), purchases.toDF("user", "ts", "id"),
          "user", "ts", "id", windowSec = 1800)
        .select("user_id", "click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // hand truth: u1 p900 <- clicks 100,101 (0,20 within [0,30]);
      // p901 <- clicks 101? (75-20=55 out) no; click 102 (75-61=14) yes;
      // u2 p902 <- click 200 (40-10=30, boundary INCLUSIVE); u3/u4 none
      val want = Set((1L, 100L, 900L), (1L, 101L, 900L), (1L, 102L, 901L),
        (2L, 200L, 902L))
      assert(batch == want, s"batch=$batch")
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming sessionize (native session_window): closed sessions == batch run") {
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    val base = 1700000000000L
    val min = 60000L
    // 3 users, gaps straddling the 10-minute rule: user 1 has two
    // sessions (25-min gap), user 2 one long chained session (9-min
    // steps merge), user 3 three singletons
    val rows: Seq[(Timestamp, Long)] = (Seq(
      (0L, 1L), (5L, 1L), (9L, 1L), (34L, 1L), (36L, 1L),
      (1L, 2L), (10L, 2L), (19L, 2L), (28L, 2L),
      (2L, 3L), (20L, 3L), (40L, 3L))
      .map { case (m, u) => (new Timestamp(base + m * min), u) })
      .sortBy(_._1.getTime)
    val input = MemoryStream[(Timestamp, Long)]
    val df = input.toDF().toDF("ts", "user")
    val q = StreamingOps.sessionize(df, "ts", "user", gap = "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // arbitrary micro-batch boundaries mid-session, then two flush
      // events (a sacrificial user far in the future) so the watermark
      // passes every real session's end and append emits them all
      input.addData(rows.take(5): _*); q.processAllAvailable()
      input.addData(rows.slice(5, 9): _*); q.processAllAvailable()
      input.addData(rows.drop(9): _*); q.processAllAvailable()
      input.addData((new Timestamp(base + 10000 * min), 999L)); q.processAllAvailable()
      input.addData((new Timestamp(base + 20000 * min), 999L)); q.processAllAvailable()
      val got = sq.sql("SELECT * FROM sess WHERE user_id != 999").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      // batch truth: the SAME call on a static frame
      val batch = StreamingOps.sessionize(
          rows.toDF("ts", "user"), "ts", "user", gap = "10 minutes")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
          r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).toSet
      assert(batch.size == 6, s"fixture must make 6 sessions, got $batch")
      assert(got == batch)
    } finally q.stop()
  }
}

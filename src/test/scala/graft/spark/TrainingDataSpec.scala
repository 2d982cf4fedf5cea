package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.core.TextOps
import graft.operators.{Decontaminate, DocChunker, DomainCap, FixedSample, SequencePacker, StratifiedSample}
import org.apache.spark.sql.functions.{col, md5}

/** Training-data operators: decontamination vs a Scala gram-set oracle,
  * md5-exact stratified sampling, and the two-phase packing scan vs the
  * sequential cumsum definition (with partitioning invariance). */
class TrainingDataSpec extends AnyFunSuite with SparkSuiteBase {
  import spark.implicits._

  private def sentence(seed: Int, len: Int): String =
    (0 until len).map(i => s"w${(seed * 31 + i * 7) % 53}").mkString(" ")

  test("decontaminate: flagged == gram-set intersection truth; clean is the complement") {
    val bench = (0 until 6).map(i => (1000L + i, sentence(i, 12)))
    val corpus = (0 until 30).map { i =>
      // every 5th corpus doc embeds a benchmark doc's text (contaminated)
      val txt = if (i % 5 == 0) sentence(i % 6, 12) + " " + sentence(100 + i, 8)
                else sentence(100 + i, 15)
      (i.toLong, txt)
    }
    val n = 5
    val benchGrams = bench.flatMap(b => TextOps.shingleHashes(b._2, n)).toSet
    val truth = corpus.flatMap { case (id, txt) =>
      val shared = TextOps.shingleHashes(txt, n).count(benchGrams)
      if (shared > 0) Some(id -> shared.toLong) else None
    }.toMap
    assert(truth.nonEmpty, "fixture must contaminate something")

    val got = Decontaminate.flagged(corpus.toDF("doc_id", "text"), "doc_id", "text",
        bench.toDF("doc_id", "text"), "text", n)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)

    val cleanIds = Decontaminate.clean(corpus.toDF("doc_id", "text"), "doc_id", "text",
        bench.toDF("doc_id", "text"), "text", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleanIds == corpus.map(_._1).toSet -- truth.keySet)
  }

  test("stratified sample: md5-exact row set at the configured rates") {
    val docs = (0 until 400).map(i => (i.toLong, if (i % 3 == 0) "en" else "de"))
    val rates = Map("en" -> 0.5, "de" -> 0.2)
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    val want = docs.filter { case (id, st) => u(id) < rates(st) }.map(_._1).toSet
    val got = StratifiedSample.sample(docs.toDF("doc_id", "lang"), "doc_id", "lang", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    // both strata sampled at roughly their rate (binomial, wide margins)
    val enKept = got.count(_ % 3 == 0).toDouble / docs.count(_._2 == "en")
    assert(enKept > 0.3 && enKept < 0.7, s"en rate off: $enKept")
  }

  test("domain cap: bounded MinN aggregate == window truth; buffer stays bounded") {
    // skewed domains: one "hot" domain with 500 docs, several small ones
    val docs = (0 until 500).map(i => (i.toLong, "hot")) ++
      (500 until 560).map(i => (i.toLong, s"d${i % 7}"))
    val n = 12
    val truth = docs.groupBy(_._2).values.flatMap(_.map(_._1).sorted.take(n)).toSet
    import spark.implicits._
    val df = docs.toDF("doc_id", "source").repartition(9)
    val got = DomainCap.cap(df, "doc_id", "source", n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == truth)
    // the aggregation must be ObjectHashAggregate (bounded typed buffer),
    // never a row_number window over the domain
    val plan = DomainCap.keptIds(df, "doc_id", "source", n)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("bottom-k sample: bounded MinNPair aggregate == hash-window truth; no Window in plan") {
    import spark.implicits._
    // skewed strata: a hot one (800 docs) and small ones
    val docs = (0 until 800).map(i => (i.toLong, "en")) ++
      (800 until 860).map(i => (i.toLong, s"l${i % 5}"))
    val k = 15
    def u(id: Long): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16)
    val truth = docs.groupBy(_._2).values
      .flatMap(_.map(_._1).sortBy(id => (u(id), id)).take(k)).toSet
    val df = docs.toDF("doc_id", "lang").repartition(7)
    val got = FixedSample.sample(df, "doc_id", "lang", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == truth)
    val plan = FixedSample.sampledIds(df, "doc_id", "lang", k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  /** Direct property on the MinNPair aggregator: random inputs split into
    * random partitions, partials reduced in order, then merged under a
    * random binary tree — the result must always be the ids of the n
    * smallest pairs, in pair order. */
  private def checkMinNPair(rnd: scala.util.Random,
      gen: scala.util.Random => Seq[(Long, Long)]): Unit =
    for (trial <- 0 until 50) {
      val n = 1 + rnd.nextInt(9)
      val agg = new FixedSample.MinNPairAgg(n)
      val xs = gen(rnd)
      val parts = scala.collection.mutable.ArrayBuffer[Array[Long]]()
      var rest = xs
      while (rest.nonEmpty) {
        val c = 1 + rnd.nextInt(rest.length)
        parts += rest.take(c).foldLeft(agg.zero)((b, v) => agg.reduce(b, v))
        rest = rest.drop(c)
      }
      if (parts.isEmpty) parts += agg.zero
      while (parts.length > 1) {
        val i = rnd.nextInt(parts.length)
        val a = parts.remove(i)
        val j = rnd.nextInt(parts.length)
        parts(j) = agg.merge(parts(j), a)
      }
      val got = agg.finish(parts.head).toSeq
      val want = xs.sorted.take(n).map(_._2)
      assert(got == want, s"trial $trial n=$n xs=$xs got=$got want=$want")
    }

  test("MinN aggregate: any partitioning + merge order == sorted.take(n)") {
    // key = id, the smallest-n ids of DomainCap and cohesionAudit: values
    // repeat, so duplicate pairs occur and must all be kept
    checkMinNPair(new scala.util.Random(31),
      rnd => Seq.fill(rnd.nextInt(60)) { val v = rnd.nextInt(40).toLong; (v, v) })
  }

  test("MinNPair aggregate: any partitioning + merge order == pairs.sorted.take(n)") {
    // duplicate keys likely (small key space) so the id tie-break runs
    checkMinNPair(new scala.util.Random(47),
      rnd => Seq.fill(rnd.nextInt(60))((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong)))
  }

  test("doc chunker: windows/stride/contents match the sequential definition") {
    val docs = Seq(
      (1L, (0 until 150).map(i => s"t$i").mkString(" ")), // 4 chunks
      (2L, (0 until 64).map(i => s"u$i").mkString(" ")),  // exactly 1 window
      (3L, "one two three"),                              // short doc
      (4L, "  "))                                         // blank: no chunks
    val (w, s) = (64, 48)
    val truth = docs.flatMap { case (id, txt) =>
      val toks = graft.core.TextOps.tokenize(txt)
      Iterator.from(0).map(_ * s).takeWhile(_ < toks.length).zipWithIndex.map {
        case (st, idx) =>
          val chunk = toks.slice(st, math.min(st + w, toks.length))
          (id, idx, chunk.length, chunk.mkString(" "))
      }
    }.toSet
    import spark.implicits._
    val got = DocChunker.chunks(docs.toDF("doc_id", "text"), "doc_id", "text", w, s)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == truth)
    assert(!got.exists(_._1 == 4L), "blank doc must emit no chunks")
    assert(got.count(_._1 == 1L) == 4) // starts 0, 48, 96, 144
  }

  test("domain keepBest: bounded aggregate == (score desc, id asc) window truth") {
    val docs = (0 until 300).map { i =>
      (i.toLong, if (i < 200) "hot" else s"d${i % 7}", ((i * 37) % 50).toLong)
    } // 'hot' has many score ties -> the id tie-break is load-bearing
    val truth = docs.groupBy(_._2).flatMap { case (_, g) =>
      g.sortBy { case (id, _, s) => (-s, id) }.take(3)
    }.map(_._1).toSet
    val got = DomainCap.keepBest(docs.toDF("doc_id", "domain", "score"),
        "doc_id", "domain", "score", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == truth)
  }

  // independent reference for cdcChunks: list-based (non-sequential)
  // boundary computation straight from the definition
  private def cdcTruth(toks: Seq[String], w: Int, d: Int): Seq[(Int, Int, String)] = {
    if (toks.isEmpty) return Nil
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long = {
      val b = md.digest(s.getBytes("UTF-8")); md.reset()
      java.lang.Long.parseLong(
        b.take(4).map(x => f"${x & 0xff}%02x").mkString, 16)
    }
    val ends = ((w - 1 until toks.length)
      .filter(i => h(toks.slice(i - w + 1, i + 1).mkString(" ")) % d == 0)
      :+ (toks.length - 1)).distinct.sorted
    ends.zipWithIndex.map { case (e, j) =>
      val st = if (j == 0) 0 else ends(j - 1) + 1
      (j, e - st + 1, toks.slice(st, e + 1).mkString(" "))
    }
  }

  test("cdc chunker: boundaries/contents match the list-based definition; lossless") {
    val docs = Seq(
      (1L, (0 until 200).map(i => s"t${i % 91}").mkString(" ")),
      (2L, "one two three"), // shorter than the window: single chunk
      (3L, "  "))            // blank: no chunks
    val (w, d) = (4, 16)
    val truth = docs.flatMap { case (id, txt) =>
      cdcTruth(graft.core.TextOps.tokenize(txt), w, d).map {
        case (idx, n, t) => (id, idx, n, t)
      }
    }.toSet
    val got = DocChunker.cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text", w, d)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == truth)
    assert(got.count(_._1 == 1L) > 3, "200 tokens at divisor 16 must cut > 3 chunks")
    assert(got.filter(_._1 == 2L).map(_._4).toSeq == Seq("one two three"))
    assert(!got.exists(_._1 == 3L))
    // lossless: chunks in idx order re-join to the tokenized doc
    val rejoined = got.filter(_._1 == 1L).toSeq.sortBy(_._2).map(_._4).mkString(" ")
    assert(rejoined == graft.core.TextOps.tokenize(docs.head._2).mkString(" "))
  }

  test("cdc chunker: shift-robust where fixed chunking is not") {
    val base = (0 until 300).map(i => s"k${(i * 17 + 3) % 113}")
    val docs = Seq((1L, base.mkString(" ")),
      (2L, ("pre1 pre2 pre3 " + base.mkString(" ")))) // 3-token insertion at head
    val cdc = DocChunker.cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text", 4, 16)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val a = cdc.filter(_._1 == 1L).map(_._2).toSet
    val b = cdc.filter(_._1 == 2L).map(_._2).toSet
    // every chunk of the original past the edit seam survives verbatim
    assert((a intersect b).size >= a.size - 2,
      s"cdc must re-find the untouched tail: |a|=${a.size} shared=${(a intersect b).size}")
    // fixed windows all shift: nothing survives
    val fixed = DocChunker.chunks(docs.toDF("doc_id", "text"), "doc_id", "text", 32, 32)
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val fa = fixed.filter(_._1 == 1L).map(_._2).toSet
    val fb = fixed.filter(_._1 == 2L).map(_._2).toSet
    assert((fa intersect fb).isEmpty)
  }

  test("cdc chunker: min/max bounds hold and cuts stay content-local") {
    val toks = (0 until 400).map(i => s"m${(i * 29 + 11) % 97}")
    val got = DocChunker.cdcChunks(
        Seq((1L, toks.mkString(" "))).toDF("doc_id", "text"), "doc_id", "text",
        windowTokens = 4, divisor = 8, minTokens = 6, maxTokens = 24)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1)
    assert(got.nonEmpty)
    got.dropRight(1).foreach { case (_, n, _) =>
      assert(n >= 6 && n <= 24, s"chunk size $n out of [6, 24]") }
    assert(got.last._2 <= 24) // final chunk may undershoot min, never max
    assert(got.map(_._3).mkString(" ") == toks.mkString(" "))
  }

  test("cdc dedup pairs: shared counts == chunk-set intersections; shift-robust vs fixed") {
    val base = (0 until 12).map { i =>
      (i.toLong, (0 until 120).map(j => s"t${(i * 41 + j * 13) % 131}").mkString(" "))
    }
    val shifted = base.collect { case (id, t) if id % 3 == 0 =>
      (id + 500L, s"ins$id x y $t") // head insertion
    }
    val docs = base ++ shifted
    val got = DocChunker.cdcSharedChunkPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // truth from the chunk definition (kernel pinned elsewhere)
    val sets = DocChunker.cdcChunks(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(3)).toSet).toMap
    val want = (for {
      (a, _) <- docs; (b, _) <- docs if a < b
      n = (sets(a) intersect sets(b)).size if n >= 2
    } yield (a, b, n.toLong)).toSet
    assert(got == want)
    // every shifted copy is found against its base...
    shifted.foreach { case (sid, _) =>
      assert(got.exists(p => p._1 == sid - 500L && p._2 == sid), s"missed $sid") }
    // ...while fixed 32/32 chunking shares nothing across the shift
    val fixedPairs = DocChunker.chunks(docs.toDF("doc_id", "text"),
        "doc_id", "text", 32, 32)
      .select(md5(col("chunk_text")).as("h"), col("id"))
      .collect().groupBy(_.getString(0)).values
      .flatMap { g =>
        val ids = g.map(_.getLong(1)).distinct.sorted.toSeq
        for (x <- ids; y <- ids if x < y) yield (x, y)
      }.toSet
    shifted.foreach { case (sid, _) =>
      assert(!fixedPairs.contains((sid - 500L, sid)),
        "fixture broken: fixed chunks survived the shift") }
  }

  test("sequence packing: two-phase scan == sequential cumsum; partitioning-invariant") {
    val rnd = new scala.util.Random(13)
    val docs = (0 until 500).map { i =>
      (i.toLong, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "fr",
        (1 + rnd.nextInt(900)).toLong)
    }
    val budget = 2048L
    val truth = docs.groupBy(_._2).flatMap { case (_, rows) =>
      var acc = 0L
      rows.sortBy(_._1).map { case (id, _, n) =>
        val seq = acc / budget; acc += n; id -> seq
      }
    }
    def run(parts: Int, shuffle: Int) = {
      val df = docs.toDF("doc_id", "lang", "n_tokens").repartition(parts)
      SequencePacker.pack(df, "doc_id", "lang", "n_tokens", budget, shuffle)
        .select("doc_id", "seq").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val a = run(parts = 3, shuffle = 7)
    assert(a == truth)
    // different physical layout, identical assignment
    assert(run(parts = 11, shuffle = 2) == a)
    // budgets actually fill: more than one sequence per big stratum
    assert(a.values.toSet.size > 1)
  }

  test("sequence packing refuses a high-cardinality strataCol loudly") {
    // a per-document stratum would collect one offset row per doc to the
    // driver — the guard must fire BEFORE that becomes an OOM at scale
    val docs = (0 until 200).map(i => (i.toLong, s"domain$i", 100L))
      .toDF("doc_id", "domain", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      SequencePacker.pack(docs, "doc_id", "domain", "n_tokens", 2048L,
        scanPartitions = 4, maxDriverRows = 50)
    }
    assert(e.getMessage.contains("high-cardinality"), e.getMessage)
    // the same data packs fine under a coarse stratum at the same bound
    val ok = SequencePacker.pack(
      docs.withColumn("lang", org.apache.spark.sql.functions.lit("en")),
      "doc_id", "lang", "n_tokens",
      2048L, scanPartitions = 4, maxDriverRows = 50)
    assert(ok.count() == 200)
  }
}

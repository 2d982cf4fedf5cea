package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** KLL accuracy discipline mirrors the reference's REQ property tests
  * (ProofCheckSpec.hs:43-55): estimated ranks stay within the a-priori
  * normalized error bound; merge of partitioned streams answers like a
  * single sketch; weight (N) is conserved exactly through compaction. */
class KllSketchSpec extends AnyFunSuite {

  private def stream(n: Int, seed: Long): Array[Double] = {
    var st = seed
    Array.fill(n) { st = SplitMix64.next(st); (SplitMix64.mix(st) >>> 11).toDouble }
  }

  test("count/min/max exact through compactions; N conserved in weights") {
    val sk = KllSketch()
    val vs = stream(100000, 1L)
    vs.foreach(sk.update)
    assert(sk.count == vs.length)
    assert(sk.minimum == vs.min && sk.maximum == vs.max)
    // total weight across levels == N
    var w = 0L
    for (h <- 0 until sk.numLevels) w += sk.levelCount(h) * (1L << h)
    assert(w == vs.length, s"weight $w != N ${vs.length}")
    assert(sk.retained < 3000, s"retained ${sk.retained} not bounded")
  }

  test("rank error within 3x normalized bound on uniform stream") {
    val sk = KllSketch()
    val vs = stream(200000, 7L)
    vs.foreach(sk.update)
    val sorted = vs.sorted
    val eps = sk.normalizedRankError
    for (r <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val q = sk.quantile(r)
      val trueRank = {
        var lo = 0; var hi = sorted.length
        while (lo < hi) { val m = (lo + hi) >>> 1; if (sorted(m) < q) lo = m + 1 else hi = m }
        lo.toDouble / sorted.length
      }
      assert(math.abs(trueRank - r) <= 3 * eps + 1e-9,
        s"r=$r trueRank=$trueRank eps=$eps")
    }
  }

  test("merge of 8 partitioned sketches answers like a single sketch") {
    val vs = stream(160000, 3L)
    val single = KllSketch()
    vs.foreach(single.update)
    val parts = vs.grouped(20000).map { chunk =>
      val s = KllSketch(); chunk.foreach(s.update); s
    }.toSeq
    val merged = parts.reduce(_ merge _)
    assert(merged.count == vs.length)
    val eps = merged.normalizedRankError
    for (r <- Seq(0.1, 0.5, 0.9)) {
      val d = math.abs(merged.rank(single.quantile(r)) - r)
      assert(d <= 4 * eps, s"merged-vs-single rank drift $d at r=$r")
    }
  }

  test("serialization round-trip preserves answers") {
    val sk = KllSketch(128)
    stream(50000, 9L).foreach(sk.update)
    val bytes = sk.serialize()
    // versioned wire format (same discipline as REQ/Theta/HLL): leading
    // version byte, unknown versions rejected
    assert(bytes(0) == KllSketch.SerVersion.toByte)
    val bad = bytes.clone(); bad(0) = 99.toByte
    intercept[IllegalArgumentException] { KllSketch.deserialize(bad) }
    val back = KllSketch.deserialize(bytes)
    assert(back.count == sk.count)
    for (r <- Seq(0.05, 0.5, 0.95)) assert(back.quantile(r) == sk.quantile(r))
  }

  test("determinism: same stream -> identical serialized state") {
    val a = KllSketch(); val b = KllSketch()
    val vs = stream(70000, 11L)
    vs.foreach(a.update); vs.foreach(b.update)
    assert(java.util.Arrays.equals(a.serialize(), b.serialize()))
  }

  test("NaN ignored; empty sketch returns NaN quantile") {
    val sk = KllSketch()
    sk.update(Double.NaN)
    assert(sk.count == 0)
    assert(sk.quantile(0.5).isNaN)
  }

  test("KLL bytes equal the Arrays.sort compaction's: spread, signed-zero, duplicate and monotone streams, merges, serde") {
    // the digest was recorded with `compress` sorting each full level by
    // `java.util.Arrays.sort`; the streams take BucketSort's bucket path
    // (spread values) and each of its fallbacks (infinities, crowded
    // duplicates, short levels at small k)
    def spread(i: Int): Double = ((SplitMix64.mix(i.toLong) >>> 11).toDouble / (1L << 53)) * 200.0 - 100.0
    def signedZero(i: Int): Double = {
      val x = SplitMix64.mix(i.toLong + 0x5bd1e995L)
      (x & 7) match {
        case 0 | 1 => -0.0
        case 2 | 3 => 0.0
        case 4 => if ((x & 8) == 0) Double.PositiveInfinity else Double.NegativeInfinity
        case 5 => ((x >>> 8) % 5).toDouble - 2.0
        case _ => spread(i)
      }
    }
    def crowded(i: Int): Double = (SplitMix64.mix(i.toLong) % 17).toDouble
    val streams = Seq[Int => Double](spread, signedZero, crowded, i => i.toDouble, i => -i.toDouble)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (k <- Seq(8, 20, 200); (f, s) <- streams.zipWithIndex; n <- Seq(10, 1000, 30000)) {
      val whole = KllSketch(k)
      val parts = Seq.fill(3)(KllSketch(k))
      var i = 0
      while (i < n) {
        val v = f(i)
        whole.update(v)
        parts((i / 7 + s) % 3).update(v)
        i += 1
      }
      md.update(whole.serialize())
      val merged = KllSketch.deserialize(parts(0).serialize())
      merged.merge(parts(1))
      merged.merge(KllSketch.deserialize(parts(2).serialize()))
      md.update(merged.serialize())
      (0 until 500).foreach(j => merged.update(f(n + j)))
      md.update(merged.serialize())
    }
    assert(md.digest().map("%02x".format(_)).mkString ==
      "ec32968df67da0cdb958619c3e5445d39ac58f984feba18832fd0174360dea27")
  }
}

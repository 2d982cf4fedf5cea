package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Core-level HLL contract: serde round trip, order-free register-max
  * union, and the estimate inside its own 3-sigma bounds. */
class HllSketchSpec extends AnyFunSuite {

  private def keys(n: Int, seed: Long): Array[Long] = {
    var st = seed
    Array.fill(n) { st = SplitMix64.next(st); SplitMix64.mix(st) }
  }

  private def sketchOf(vs: Array[Long], lgK: Int = HllSketch.DefaultLgK): HllSketch = {
    val s = HllSketch(lgK)
    vs.foreach(s.update)
    s
  }

  test("serialize/deserialize round trip preserves bytes and estimate") {
    for (lgK <- Seq(4, 12, 16); n <- Seq(0, 1, 1000, 100000)) {
      val s = sketchOf(keys(n, n + lgK.toLong), lgK)
      val bytes = s.serialize()
      assert(bytes.length == 2 + (1 << lgK))
      val back = HllSketch.deserialize(bytes)
      assert(back.serialize().sameElements(bytes), s"lgK=$lgK n=$n")
      assert(back.estimate == s.estimate)
    }
  }

  test("union is commutative, idempotent and equals the single-stream sketch") {
    val a = keys(20000, 1L)
    val b = keys(5000, 2L) ++ a.take(4000)
    val ab = sketchOf(a).merge(sketchOf(b)).serialize()
    assert(ab.sameElements(sketchOf(b).merge(sketchOf(a)).serialize()))
    assert(ab.sameElements(sketchOf(a ++ b).serialize()))
    val twice = sketchOf(a ++ b)
    assert(twice.merge(sketchOf(b)).serialize().sameElements(ab))
    intercept[IllegalArgumentException](HllSketch(10).merge(HllSketch(11)))
  }

  test("estimate inside its 3-sigma bounds, small and large range") {
    for ((n, seed) <- Seq((100, 1L), (3000, 2L), (50000, 3L), (400000, 4L))) {
      val s = sketchOf(keys(n, seed) ++ keys(n / 2, seed)) // half the stream repeats
      assert(s.lowerBound(3) <= n && n <= s.upperBound(3),
        s"n=$n estimate=${s.estimate} bounds=[${s.lowerBound(3)}, ${s.upperBound(3)}]")
    }
  }

  /** The dense HLL of the original implementation, restated: the
    * register update of every key, then the v1 byte layout. */
  private def denseReference(vs: Array[Long], lgK: Int): Array[Byte] = {
    val regs = new Array[Byte](1 << lgK)
    vs.foreach { v =>
      val h = ThetaSketch.hashLong(v)
      val idx = (h >>> (64 - lgK)).toInt
      val rank = (java.lang.Long.numberOfLeadingZeros((h << lgK) | (1L << (lgK - 1))) + 1).toByte
      if (rank > regs(idx)) regs(idx) = rank
    }
    Array[Byte](1, lgK.toByte) ++ regs
  }

  private def setRegisters(s: HllSketch): Int = s.serialize().drop(2).count(_ != 0)

  test("serialize equals the dense reference, and partial images round-trip, across the sparse-image limit") {
    for (lgK <- Seq(4, 12); n <- Seq(0, 1, 2, 3, 4, 5, 10, 100, 700, 850, 900, 950, 1000, 1100, 20000)) {
      val vs = keys(n, 7L + n)
      val s = sketchOf(vs, lgK)
      val label = s"lgK=$lgK n=$n"
      val canonical = s.serialize()
      assert(canonical.sameElements(denseReference(vs, lgK)), label)
      val image = HllSketch.partialImage(s)
      assert(HllSketch.readPartialImage(image).serialize().sameElements(canonical), label)
      val set = setRegisters(s)
      if (set < (1 << lgK) / 5) { // sparse: one 4-byte entry per set register
        assert(image(0) == 1 && image.length == 6 + 4 * set, label)
      } else {                    // dense: a tag byte plus the canonical bytes
        assert(image(0) == 0 && image.drop(1).sameElements(canonical), label)
      }
    }
  }

  test("merges of sketches from sparse and dense images equal the single-pass bytes") {
    val small1 = keys(200, 11L)                // sparse image
    val small2 = keys(300, 12L) ++ small1.take(50)
    val big = keys(30000, 13L)                 // dense image
    def viaImage(vs: Array[Long]): HllSketch = HllSketch.readPartialImage(HllSketch.partialImage(sketchOf(vs)))
    assert(HllSketch.partialImage(sketchOf(small1))(0) == 1 && HllSketch.partialImage(sketchOf(big))(0) == 0)
    for ((a, b, kind) <- Seq(
           (small1, small2, "sparse + sparse"),
           (small1, big, "sparse + dense"),
           (big, small1, "dense + sparse"),
           (big, keys(9000, 14L), "dense + dense"))) {
      val single = sketchOf(a ++ b).serialize()
      assert(viaImage(a).merge(viaImage(b)).serialize().sameElements(single), kind)
      assert(viaImage(a).merge(sketchOf(b)).serialize().sameElements(single), s"$kind, image into live")
    }
  }
}

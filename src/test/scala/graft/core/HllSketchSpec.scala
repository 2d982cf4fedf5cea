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
}

package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Core-level Theta contract: serde round trip, order-free union, the
  * estimate inside its own 3-sigma bounds, a buffer sized to what the
  * sketch holds, and the in-place byte hash agreeing with the array one. */
class ThetaSketchSpec extends AnyFunSuite {

  private def keys(n: Int, seed: Long): Array[Long] = {
    var st = seed
    Array.fill(n) { st = SplitMix64.next(st); SplitMix64.mix(st) }
  }

  private def sketchOf(vs: Array[Long], nominal: Int = ThetaSketch.DefaultNominalEntries): ThetaSketch = {
    val s = ThetaSketch(nominal)
    vs.foreach(s.update)
    s
  }

  test("serialize/deserialize round trip preserves bytes, theta and estimate") {
    for (n <- Seq(0, 1, 100, 5000, 100000)) {
      val s = sketchOf(keys(n, n + 1L))
      val bytes = s.serialize()
      val back = ThetaSketch.deserialize(bytes)
      assert(back.serialize().sameElements(bytes), s"n=$n")
      assert(back.thetaLong == s.thetaLong && back.retained == s.retained && back.estimate == s.estimate)
      // the round-tripped sketch keeps absorbing updates like the original
      val more = keys(3000, 99L)
      more.foreach(s.update); more.foreach(back.update)
      assert(back.serialize().sameElements(s.serialize()), s"n=$n after further updates")
    }
  }

  test("union is commutative and equals the single-stream sketch") {
    for ((na, nb) <- Seq((10, 20), (3000, 4000), (50000, 7000))) {
      val a = keys(na, 11L)
      val b = keys(nb, 12L) ++ a.take(na / 3) // overlapping streams
      val ab = sketchOf(a).merge(sketchOf(b)).serialize()
      val ba = sketchOf(b).merge(sketchOf(a)).serialize()
      assert(ab.sameElements(ba), s"($na,$nb)")
      assert(ab.sameElements(sketchOf(a ++ b).serialize()), s"($na,$nb) vs single stream")
    }
  }

  test("estimate is exact below nominal and inside its 3-sigma bounds above") {
    val exact = sketchOf(keys(3000, 5L))
    assert(!exact.isEstimationMode && exact.estimate == 3000.0)
    for ((n, seed) <- Seq((20000, 1L), (100000, 2L), (300000, 3L))) {
      val s = sketchOf(keys(n, seed) ++ keys(n / 2, seed)) // half the stream repeats
      assert(s.isEstimationMode)
      assert(s.lowerBound(3) <= n && n <= s.upperBound(3),
        s"n=$n estimate=${s.estimate} bounds=[${s.lowerBound(3)}, ${s.upperBound(3)}]")
    }
  }

  test("hash buffer grows with what the sketch holds, capped at 2x nominal") {
    val s = ThetaSketch()
    assert(s.bufferCapacity == ThetaSketch.InitialCapacity)
    keys(100, 7L).foreach(s.update)
    assert(s.bufferCapacity == 128)
    keys(50000, 8L).foreach(s.update)
    assert(s.bufferCapacity == 2 * ThetaSketch.DefaultNominalEntries)
    val small = ThetaSketch.deserialize(sketchOf(keys(40, 9L)).serialize())
    assert(small.bufferCapacity == 40)
    assert(ThetaSketch.deserialize(ThetaSketch().serialize()).bufferCapacity == ThetaSketch.InitialCapacity)
  }

  /** The byte hash as first written: big-endian 8-byte words, then the tail. */
  private def referenceHash(b: Array[Byte]): Long = {
    var h = 0x9E3779B97F4A7C15L ^ (b.length * 0xC2B2AE3D27D4EB4FL)
    var i = 0
    while (i + 8 <= b.length) {
      var w = 0L
      for (j <- 0 until 8) w = (w << 8) | (b(i + j) & 0xFFL)
      h = SplitMix64.mix(h ^ w)
      i += 8
    }
    var tail = 0L
    while (i < b.length) { tail = (tail << 8) | (b(i) & 0xFFL); i += 1 }
    SplitMix64.mix(h ^ tail)
  }

  test("hashBytes in place equals the array hash: lengths 0-17, multi-byte UTF-8, slices") {
    val rnd = new scala.util.Random(17)
    for (len <- 0 to 17) {
      val b = Array.fill(len)(rnd.nextInt(256).toByte)
      val u = UTF8String.fromBytes(b)
      assert(ThetaSketch.hashBytes(b) == referenceHash(b), s"len=$len")
      assert(ThetaSketch.hashBytes(u.getBaseObject, u.getBaseOffset, u.numBytes) == referenceHash(b), s"len=$len")
    }
    for (s <- Seq("é", "naïve café", "日本語のテキスト", "emoji 😀 mixed ß", "x" * 40 + "ü")) {
      val b = s.getBytes(UTF_8)
      val u = UTF8String.fromString(s)
      assert(ThetaSketch.hashBytes(u.getBaseObject, u.getBaseOffset, u.numBytes) == referenceHash(b), s)
    }
    // a slice that starts mid-array, as Spark hands out for substrings of a row buffer
    val backing = "prefix-日本語-slice-body-suffix".getBytes(UTF_8)
    for (off <- Seq(1, 7, 9); len <- Seq(0, 5, 13)) {
      val u = UTF8String.fromBytes(backing, off, len)
      val copy = java.util.Arrays.copyOfRange(backing, off, off + len)
      assert(u.getBaseOffset != org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET || off == 0)
      assert(ThetaSketch.hashBytes(u.getBaseObject, u.getBaseOffset, u.numBytes) == referenceHash(copy),
        s"off=$off len=$len")
    }
  }
}

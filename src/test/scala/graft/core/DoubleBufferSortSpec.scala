package graft.core

import java.security.MessageDigest
import java.util.Arrays

import org.scalatest.funsuite.AnyFunSuite

/** `DoubleBuffer.sort()` sorts only what was appended since the last sort
  * and merges it into the sorted run. These tests hold it to `Arrays.sort`
  * bit for bit (signed zeros and infinities included), to the buffer it
  * replaced (restated below as [[DoubleBufferSortSpec.FullSortBuffer]])
  * under the operations a REQ compactor runs, and the REQ sketch bytes over
  * signed-zero streams to digests recorded with that buffer. */
class DoubleBufferSortSpec extends AnyFunSuite {
  import DoubleBufferSortSpec._

  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("tail merge equals Arrays.sort in both orientations: duplicates, signed zeros, infinities, trims") {
    for (sab <- Seq(true, false); seed <- 1L to 40L) {
      val rnd = new scala.util.Random(seed)
      val b = DoubleBuffer(4, 4, sab)
      var model = Array.empty[Double] // sorted contents
      for (step <- 0 until 30) {
        val fresh = Array.fill(rnd.nextInt(12))(value(rnd))
        fresh.foreach(b.append)
        model = model ++ fresh
        Arrays.sort(model)
        b.sort()
        val label = s"sab=$sab seed=$seed step=$step"
        assert(bits(b.toArray) == bits(model), label)
        if (rnd.nextInt(3) == 0 && model.nonEmpty) { // trim between sorts
          val keep = rnd.nextInt(model.length + 1)
          b.trimCount(keep)
          model = if (sab) model.takeRight(keep) else model.take(keep)
          assert(bits(b.toArray) == bits(model), s"$label trim to $keep")
        }
      }
    }
  }

  test("the buffer matches the full-sort buffer under a REQ compactor's operations") {
    for (sab <- Seq(true, false); seed <- 1L to 60L) {
      val rnd = new scala.util.Random(seed)
      val b = DoubleBuffer(8, 8, sab)
      val ref = new FullSortBuffer(sab)
      for (step <- 0 until 60) {
        val label = s"sab=$sab seed=$seed step=$step"
        rnd.nextInt(6) match {
          case 0 | 1 =>
            val fresh = Array.fill(rnd.nextInt(10))(value(rnd))
            fresh.foreach { v => b.append(v); ref.append(v) }
          case 2 => // promotion from a level below: a sorted array, signed zeros in any order
            val promoted = Array.fill(rnd.nextInt(8))(value(rnd)).sortWith(_ < _)
            b.mergeSortIn(promoted, promoted.length); ref.mergeSortIn(promoted)
          case 3 if b.count >= 2 => // compaction: evens or odds, then trim
            val end = b.count - b.count % 2
            val odds = rnd.nextBoolean()
            assert(bits(b.getEvensOrOdds(0, end, odds)) == bits(ref.evensOrOdds(0, end, odds)), label)
            val keep = rnd.nextInt(b.count)
            b.trimCount(keep); ref.trimCount(keep)
          case 4 => // a merge copies the bigger buffer
            val other = DoubleBuffer(4, 4, sab)
            val otherRef = new FullSortBuffer(sab)
            Array.fill(rnd.nextInt(6))(value(rnd)).foreach { v => other.append(v); otherRef.append(v) }
            other.mergeSortIn(Array(0.0, 0.0), 2); otherRef.mergeSortIn(Array(0.0, 0.0))
            other.mergeSortIn(Array(-0.0), 1); otherRef.mergeSortIn(Array(-0.0))
            assert(bits(other.sortedCopy().toArray) == bits(otherRef.sortedCopy()), label)
            b.mergeSortIn(other); ref.mergeSortIn(otherRef.sorted())
          case _ =>
            b.sort(); ref.sort()
        }
        assert(bits(b.toArray) == bits(ref.items), label)
      }
    }
  }

  test("REQ bytes over signed-zero streams equal the full-sort buffer's (k 6/12/50, HRA and LRA, merges, serde)") {
    val md = MessageDigest.getInstance("SHA-256")
    for (k <- Seq(6, 12, 50); hra <- Seq(true, false); n <- Seq(10, 1000, 20000, 200000)) {
      val whole = ReqSketch(k, hra)
      val parts = Seq.fill(3)(ReqSketch(k, hra))
      var i = 0
      while (i < n) {
        val v = signedZeroStream(i)
        whole.update(v)
        parts(i % 7 % 3).update(v)
        i += 1
      }
      md.update(whole.serialize())
      val merged = ReqSketch.deserialize(parts(0).serialize())
      merged.merge(parts(1))
      merged.merge(ReqSketch.deserialize(parts(2).serialize()))
      md.update(merged.serialize())
      (0 until 50).foreach(j => merged.update(signedZeroStream(n + j)))
      md.update(merged.serialize())
    }
    assert(md.digest().map("%02x".format(_)).mkString == SignedZeroReqDigest)
  }
}

object DoubleBufferSortSpec {
  /** SHA-256 of the REQ test's bytes, recorded with the full-sort buffer
    * (the implementation `FullSortBuffer` restates) in place. Dropping
    * either signed-zero rule of `DoubleBuffer` (the -0.0-first tail merge,
    * or the full re-sort of a run `mergeSortIn` left with 0.0 before
    * -0.0) changes it. */
  val SignedZeroReqDigest = "8efbeb4e361da4fb2ed37c4920e476255548d775a4b3899a28005ce079266345"

  /** Mostly signed zeros and small integers, some infinities. */
  def value(rnd: scala.util.Random): Double = rnd.nextInt(10) match {
    case 0 | 1 | 2 => -0.0
    case 3 | 4 | 5 => 0.0
    case 6 => Double.PositiveInfinity
    case 7 => Double.NegativeInfinity
    case _ => (rnd.nextInt(5) - 2).toDouble
  }

  /** Item i of the REQ test's stream: runs of signed zeros among spread values. */
  def signedZeroStream(i: Int): Double = {
    val x = SplitMix64.mix(i.toLong)
    (x & 7) match {
      case 0 | 1 => -0.0
      case 2 | 3 => 0.0
      case 4 => ((x >>> 8) % 5).toDouble
      case _ => ((x >>> 11).toDouble / (1L << 53)) * 200.0 - 100.0
    }
  }

  /** The DoubleBuffer before sorted runs, restated: a sortedness flag, a
    * whole-buffer `Arrays.sort`, the reference's `<=`/`>` merge. Items are
    * kept in logical order; the orientation only picks which end a trim
    * keeps. */
  final class FullSortBuffer(spaceAtBottom: Boolean) {
    private var xs = Array.empty[Double]
    private var isSorted = true

    def items: Array[Double] = xs.clone()
    def append(v: Double): Unit = {
      // HRA grows downward: a new item is logically first
      xs = if (spaceAtBottom) v +: xs else xs :+ v
      isSorted = false
    }
    def sort(): Unit = if (!isSorted) { Arrays.sort(xs); isSorted = true }
    def sorted(): Array[Double] = { sort(); items }
    def trimCount(n: Int): Unit =
      if (n < xs.length) xs = if (spaceAtBottom) xs.takeRight(n) else xs.take(n)
    def evensOrOdds(start: Int, end: Int, odds: Boolean): Array[Double] = {
      sort()
      (start + (if (odds) 1 else 0) until end by 2).map(xs(_)).toArray.take((end - start) / 2)
    }
    def mergeSortIn(other: Array[Double]): Unit = {
      sort()
      val out = new Array[Double](xs.length + other.length)
      if (spaceAtBottom) { // ascending, ties take this buffer's item
        var (i, j, k) = (0, 0, 0)
        while (k < out.length) {
          if (j >= other.length || (i < xs.length && xs(i) <= other(j))) { out(k) = xs(i); i += 1 }
          else { out(k) = other(j); j += 1 }
          k += 1
        }
      } else { // descending, ties put the other's item above
        var (i, j, k) = (xs.length - 1, other.length - 1, out.length - 1)
        while (k >= 0) {
          if (j < 0 || (i >= 0 && xs(i) > other(j))) { out(k) = xs(i); i -= 1 }
          else { out(k) = other(j); j -= 1 }
          k -= 1
        }
      }
      xs = out
      isSorted = true
    }
    /** The merge's copy: appended one by one, then sorted. */
    def sortedCopy(): Array[Double] = { val c = sorted(); Arrays.sort(c); c }
  }
}

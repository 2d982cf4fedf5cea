package graft.core

import java.util.Arrays

/** Ascending sorts for the keys the sketches sort: Theta's 63-bit hashes
  * and REQ's and KLL's doubles, all spread fairly evenly over their range.
  * One counting pass puts the keys into about one bucket per key by where
  * they fall between the range's ends, then an insertion sort fixes the
  * order inside the buckets. The result is `Arrays.sort`'s, element for
  * element (-0.0 before 0.0 included); short ranges, ranges whose keys
  * crowd into a few buckets and double ranges with an infinite end go to
  * `Arrays.sort` itself. */
private[core] object BucketSort {
  /** Below this many keys `Arrays.sort`'s insertion and quick sorts win. */
  private val MinLength = 32
  /** A bucket holding more keys than this means a skewed range. */
  private val MaxBucket = 16

  def sort(a: Array[Long], from: Int, to: Int): Unit =
    if (to - from < MinLength || !bucketSort(a, from, to)) Arrays.sort(a, from, to)

  /** Sorts doubles that hold no NaN (REQ and KLL drop NaN on update). */
  def sort(a: Array[Double], from: Int, to: Int): Unit =
    if (to - from < MinLength || !bucketSort(a, from, to)) Arrays.sort(a, from, to)

  /** Bucket of each key: its high bits above the range's minimum. False,
    * with `a` untouched, when a bucket would overflow. */
  private def bucketSort(a: Array[Long], from: Int, to: Int): Boolean = {
    var min = a(from)
    var max = min
    var i = from + 1
    while (i < to) {
      val x = a(i)
      if (x < min) min = x else if (x > max) max = x
      i += 1
    }
    if (min == max) return true
    val lgB = 31 - Integer.numberOfLeadingZeros(to - from) // 2^lgB buckets
    // the span max - min, read unsigned, shifted down to at most lgB bits
    val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(max - min) - lgB)
    val starts = new Array[Int]((1 << lgB) + 1)
    i = from
    while (i < to) { starts((((a(i) - min) >>> shift).toInt) + 1) += 1; i += 1 }
    if (!prefixSums(starts)) return false
    val out = new Array[Long](to - from)
    i = from
    while (i < to) {
      val b = ((a(i) - min) >>> shift).toInt
      out(starts(b)) = a(i)
      starts(b) += 1
      i += 1
    }
    // buckets are in order: only keys inside one bucket can be out of order
    i = 0
    while (i < out.length) {
      val x = out(i)
      var j = from + i - 1
      while (j >= from && a(j) > x) { a(j + 1) = a(j); j -= 1 }
      a(j + 1) = x
      i += 1
    }
    true
  }

  /** Bucket of each double: its linear position between the range's ends,
    * which never decreases as the value grows. */
  private def bucketSort(a: Array[Double], from: Int, to: Int): Boolean = {
    var min = a(from)
    var max = min
    var i = from + 1
    while (i < to) {
      val x = a(i)
      if (x < min) min = x else if (x > max) max = x
      i += 1
    }
    val span = max - min
    // all equal: sorted, unless they are zeros of both signs; an infinite
    // end (or both ends infinite: NaN span) has no linear position
    if (!(span > 0.0) || span.isInfinite) return span == 0.0 && min != 0.0
    val nb = Integer.highestOneBit(to - from)
    val scale = nb / span
    val starts = new Array[Int](nb + 1)
    i = from
    while (i < to) { starts(math.min(((a(i) - min) * scale).toInt, nb - 1) + 1) += 1; i += 1 }
    if (!prefixSums(starts)) return false
    val out = new Array[Double](to - from)
    i = from
    while (i < to) {
      val b = math.min(((a(i) - min) * scale).toInt, nb - 1)
      out(starts(b)) = a(i)
      starts(b) += 1
      i += 1
    }
    i = 0
    while (i < out.length) {
      val x = out(i)
      var j = from + i - 1
      while (j >= from && totalLess(x, a(j))) { a(j + 1) = a(j); j -= 1 }
      a(j + 1) = x
      i += 1
    }
    true
  }

  /** `a < b` in `Arrays.sort`'s order for doubles without NaN: -0.0 below 0.0. */
  @inline def totalLess(a: Double, b: Double): Boolean =
    a < b || (a == b && java.lang.Double.doubleToRawLongBits(a) < java.lang.Double.doubleToRawLongBits(b))

  /** Turns bucket counts (shifted up by one) into bucket starts; false when
    * a bucket holds more than [[MaxBucket]] keys. */
  private def prefixSums(starts: Array[Int]): Boolean = {
    var b = 1
    while (b < starts.length) {
      if (starts(b) > MaxBucket) return false
      starts(b) += starts(b - 1)
      b += 1
    }
    true
  }
}

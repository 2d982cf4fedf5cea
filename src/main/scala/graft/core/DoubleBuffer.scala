package graft.core

import java.util.Arrays

/** Growable unboxed double buffer with direction-aware storage.
  *
  * Semantics follow the reference's DoubleBuffer
  * (`/root/reference/data-sketches-core/.../Internal/DoubleBuffer.hs:47-321`),
  * which follows Apache DataSketches Java `FloatBuffer`:
  *
  *  - `spaceAtBottom = true` (HighRanksAreAccurate mode): the `count` active
  *    items live at the TOP of the backing array and the buffer grows
  *    downward; `trimCount` then cheaply removes the logical-LOW (inaccurate)
  *    end (`DoubleBuffer.hs:98-103,133-141`).
  *  - `spaceAtBottom = false` (LRA): items at the bottom; `trimCount`
  *    removes the logical-HIGH end.
  *
  * Logical index i (0-based, ascending when sorted) maps to physical index
  * `startIdx + i` where `startIdx = if (spaceAtBottom) capacity - count else 0`.
  *
  * Sortedness is tracked as the length of a sorted run, which generalizes
  * the reference's lazy flag (`DoubleBuffer.hs:225-237`): the run is the
  * logical-low `sortedCount` items for LRA and the logical-high ones for
  * HRA, i.e. the physical items that were already there before the latest
  * appends. `sort()` sorts only the items appended since the last sort
  * ([[BucketSort]]) and merges them into the run, so a REQ level-0
  * compaction costs a sort of what is new plus one linear merge instead of
  * a sort of the whole buffer. The merge orders -0.0 before 0.0, so the
  * result equals `Arrays.sort` of the whole buffer bit for bit.
  *
  * [[mergeSortIn]] keeps the reference's `<=`/`>` merge, which may place
  * 0.0 before -0.0. Such a run stays as it is until the next append; the
  * next `sort()` then sorts the whole buffer, as the reference does, so
  * every serialized byte is the reference's.
  */
final class DoubleBuffer private (
    private var arr: Array[Double],
    private var count0: Int,
    private var sortedCount: Int,   // length of the sorted run (see above)
    private var zerosInverted: Boolean, // the run may hold 0.0 before -0.0
    val growthIncrement: Int,
    val spaceAtBottom: Boolean
) {

  def count: Int = count0
  def isEmpty: Boolean = count0 == 0
  def capacity: Int = arr.length
  private def startIdx: Int = if (spaceAtBottom) arr.length - count0 else 0

  /** Logical element access (0-based). */
  def apply(i: Int): Double = arr(startIdx + i)

  def append(v: Double): Unit = {
    ensureSpace(1)
    if (spaceAtBottom) {
      val pos = arr.length - count0 - 1
      arr(pos) = v
    } else {
      arr(count0) = v
    }
    count0 += 1
  }

  /** Make room for `space` more items, repacking in the storage direction. */
  def ensureSpace(space: Int): Unit =
    if (count0 + space > arr.length) {
      val newCap = math.max(count0 + space + growthIncrement, arr.length * 2)
      resize(newCap)
    }

  def ensureCapacity(newCap: Int): Unit =
    if (newCap > arr.length) resize(newCap)

  private def resize(newCap: Int): Unit = {
    val na = new Array[Double](newCap)
    if (spaceAtBottom)
      System.arraycopy(arr, arr.length - count0, na, newCap - count0, count0)
    else
      System.arraycopy(arr, 0, na, 0, count0)
    arr = na
  }

  /** Sorts the active items ascending: sorts the items appended since the
    * last sort and merges them into the sorted run (module doc). */
  def sort(): Unit =
    if (sortedCount < count0) {
      val s = startIdx
      val fresh = count0 - sortedCount
      if (zerosInverted || sortedCount == 0) BucketSort.sort(arr, s, s + count0)
      else if (spaceAtBottom) {
        // fresh items at physical [s, s + fresh), the run above them
        BucketSort.sort(arr, s, s + fresh)
        val tmp = Arrays.copyOfRange(arr, s, s + fresh)
        val end = arr.length
        var i = s + fresh // run cursor (ascending)
        var j = 0         // fresh cursor (ascending)
        var k = s
        while (j < fresh) {
          if (i < end && BucketSort.totalLess(arr(i), tmp(j))) { arr(k) = arr(i); i += 1 }
          else { arr(k) = tmp(j); j += 1 }
          k += 1
        }
      } else {
        // run at physical [0, sortedCount), fresh items above it
        BucketSort.sort(arr, sortedCount, count0)
        val tmp = Arrays.copyOfRange(arr, sortedCount, count0)
        var i = sortedCount - 1 // run cursor (descending)
        var j = fresh - 1       // fresh cursor (descending)
        var k = count0 - 1
        while (j >= 0) {
          if (i >= 0 && BucketSort.totalLess(tmp(j), arr(i))) { arr(k) = arr(i); i -= 1 }
          else { arr(k) = tmp(j); j -= 1 }
          k -= 1
        }
      }
      sortedCount = count0
      zerosInverted = false
    }

  /** Keep only `newCount` items of the non-compacted region: for
    * spaceAtBottom keep the logical-HIGH items, else the logical-LOW items
    * (`DoubleBuffer.hs:320-321` + direction semantics). */
  def trimCount(newCount: Int): Unit =
    if (newCount < count0) {
      count0 = newCount
      sortedCount = math.min(sortedCount, newCount)
    }

  /** Count of active items `< v` (or `<= v` when inclusive). Sorts first.
    * Throws on non-finite probe (`DoubleBuffer.hs:150-165`). */
  def countWithCriterion(v: Double, inclusive: Boolean): Int = {
    require(!v.isNaN && !v.isInfinite, s"probe value must be finite, got $v")
    sort()
    val s = startIdx
    val mode = if (inclusive) InequalitySearch.LE else InequalitySearch.LT
    val idx = InequalitySearch.find(arr, s, s + count0 - 1, v, mode)
    if (idx == -1) 0 else idx - s + 1
  }

  /** Sorts, then returns every 2nd item of logical [start,end) with offset
    * `if (odds) 1 else 0` as a new ascending array of size (end-start)/2
    * (`DoubleBuffer.hs:169-198`). */
  def getEvensOrOdds(start: Int, end: Int, odds: Boolean): Array[Double] = {
    sort()
    val range = end - start
    val out = new Array[Double](range / 2)
    val s = startIdx
    var i = start + (if (odds) 1 else 0)
    var j = 0
    while (j < out.length) {
      out(j) = arr(s + i)
      i += 2; j += 1
    }
    out
  }

  /** In-place merge of a sorted array into this sorted buffer
    * (`DoubleBuffer.hs:240-318`). Both must be sorted; result is sorted. */
  def mergeSortIn(other: Array[Double], otherLen: Int): Unit = {
    sort()
    ensureSpace(otherLen)
    val total = count0 + otherLen
    if (spaceAtBottom) {
      // Active region will occupy [cap-total, cap). Merge upward (smallest
      // first) into the free space below the current items.
      val cap = arr.length
      var i = cap - count0 // current items cursor (ascending)
      var j = 0            // other cursor (ascending)
      var k = cap - total  // destination cursor (ascending)
      while (j < otherLen) {
        if (i < cap && arr(i) <= other(j)) { arr(k) = arr(i); i += 1 }
        else { arr(k) = other(j); j += 1 }
        k += 1
      }
      // remaining current items are already in place at/after k
    } else {
      // Items at bottom: merge downward (largest first) into [0, total).
      var i = count0 - 1
      var j = otherLen - 1
      var k = total - 1
      while (j >= 0) {
        if (i >= 0 && arr(i) > other(j)) { arr(k) = arr(i); i -= 1 }
        else { arr(k) = other(j); j -= 1 }
        k -= 1
      }
    }
    count0 = total
    sortedCount = total
    zerosInverted = zeroBlockInverted()
  }

  /** Whether the zeros of the sorted active items hold a 0.0 before a
    * -0.0. Zeros compare equal under `<`, so they are one block: a binary
    * search finds it, and only the block is scanned. */
  private def zeroBlockInverted(): Boolean = {
    val s = startIdx
    var lo = s
    var hi = s + count0
    while (lo < hi) { // first item >= 0.0 (-0.0 included)
      val mid = (lo + hi) >>> 1
      if (arr(mid) < 0.0) lo = mid + 1 else hi = mid
    }
    var positive = false
    while (lo < s + count0 && arr(lo) == 0.0) {
      if (java.lang.Double.doubleToRawLongBits(arr(lo)) == 0L) positive = true
      else if (positive) return true
      lo += 1
    }
    false
  }

  /** Merge another sorted DoubleBuffer into this one. */
  def mergeSortIn(other: DoubleBuffer): Unit = {
    other.sort()
    mergeSortIn(other.toArray, other.count)
  }

  /** A sorted copy of this buffer whose capacity and growth increment equal
    * its item count. A run that may hold 0.0 before -0.0 is sorted again,
    * as the reference's copy-then-sort does. */
  def sortedCopy(): DoubleBuffer = {
    sort()
    val items = toArray
    if (zerosInverted) Arrays.sort(items)
    val b = DoubleBuffer(items.length, items.length, spaceAtBottom)
    System.arraycopy(items, 0, b.arr, if (spaceAtBottom) b.arr.length - items.length else 0, items.length)
    b.count0 = items.length
    b.sortedCount = items.length
    b
  }

  /** Copy of the active region in logical (ascending-when-sorted) order. */
  def toArray: Array[Double] = {
    val out = new Array[Double](count0)
    System.arraycopy(arr, startIdx, out, 0, count0)
    out
  }

  /** Raw access for the auxiliary builder: (backing array, start, count). */
  def active: (Array[Double], Int, Int) = (arr, startIdx, count0)
}

object DoubleBuffer {
  def apply(capacity: Int, growthIncrement: Int, spaceAtBottom: Boolean): DoubleBuffer =
    new DoubleBuffer(new Array[Double](math.max(capacity, 1)), 0, 0, false, growthIncrement, spaceAtBottom)

  def fromArray(items: Array[Double], spaceAtBottom: Boolean): DoubleBuffer = {
    val b = apply(items.length, items.length, spaceAtBottom)
    var i = 0
    while (i < items.length) { b.append(items(i)); i += 1 }
    b
  }
}

package graft.core

import java.nio.ByteBuffer
import java.util.Arrays
import org.apache.spark.unsafe.Platform

/** Theta sketch for approximate distinct counting and set expressions
  * (union / intersection / a-not-b), the family capability named by the
  * reference README (`/root/reference/data-sketches/README.md:16`).
  *
  * Standard k-minimum-values-with-jumping-theta algorithm (Dasgupta et al.,
  * "Theta-Sketch Framework", and the Apache DataSketches theta family):
  * retain up to `nominalEntries` smallest 64-bit hashes strictly below
  * theta; when over-full, theta jumps to the (k+1)-th smallest and larger
  * entries are discarded. Unbiased estimate = retained / thetaFraction.
  *
  * RSE ≈ 1/sqrt(k-1) in estimation mode — validated by property tests to
  * the same discipline as the reference's rank-bound tests
  * (`/root/reference/data-sketches/test/ProofCheckSpec.hs:43-55`).
  *
  * Mutable, single-threaded, mergeable — the same lifecycle contract as the
  * reference ReqSketch (zero / update / merge / query).
  *
  * The hash buffer starts at [[ThetaSketch.InitialCapacity]] and doubles up
  * to 2x nominal, so a sketch costs memory in proportion to what it holds; a
  * rebuild (sort, dedupe, theta jump) still fires only when a full 2x-nominal
  * buffer fills, which keeps theta and the retained hashes independent of
  * the buffer's growth.
  *
  * The buffer is a sorted, distinct prefix (what the last rebuild left)
  * followed by the hashes appended since. A rebuild sorts only the appended
  * ones ([[BucketSort]]: hashes are uniform below theta) and merges them
  * into the prefix, dropping duplicates and hashes at or above theta as it
  * goes; `merge` only appends, and the partial image writes the buffer as
  * it is. Every observer (`retained`, `thetaLong`,
  * `isEstimationMode`, the estimate, its bounds, the set expressions and
  * `serialize`) rebuilds first, so each reads the same state a serialized
  * copy would. A rebuild is canonical (the k smallest distinct hashes below
  * the least theta seen), so when it runs never shows in the bytes.
  */
final class ThetaSketch private (
    val nominalEntries: Int,
    private var theta: Long,            // exclusive upper bound, in [1, Long.MaxValue]
    private var hashes: Array[Long],    // sorted distinct prefix, then appended hashes
    private var n: Int,                 // number of valid entries in `hashes`
    private var sortedN: Int            // length of the sorted distinct prefix
) extends Mergeable[ThetaSketch] with Serializable {
  import ThetaSketch._

  def retained: Int = { rebuild(); n }
  def thetaLong: Long = { rebuild(); theta }
  def thetaFraction: Double = thetaLong.toDouble / Long.MaxValue.toDouble
  def isEstimationMode: Boolean = thetaLong != Long.MaxValue

  /** Update with a pre-hashed 64-bit value (must be uniform; use
    * [[ThetaSketch.hashLong]] / [[ThetaSketch.hashBytes]]). */
  def updateHash(h0: Long): Unit = {
    val h = h0 & Long.MaxValue // use 63 bits, non-negative
    if (h >= theta) return
    // linear membership check is too slow; dedupe lazily at rebuild instead.
    append(h)
  }

  /** Buffer `h` (< theta), first growing the buffer or, once it is full at
    * 2x nominal, rebuilding — which may lower theta past `h`. */
  private def append(h: Long): Unit = {
    if (n == hashes.length) {
      if (hashes.length < 2 * nominalEntries) grow(2 * hashes.length)
      else rebuild()
    }
    if (h < theta) { hashes(n) = h; n += 1 }
  }

  private def grow(capacity: Int): Unit =
    if (capacity > hashes.length && hashes.length < 2 * nominalEntries)
      hashes = Arrays.copyOf(hashes, math.min(capacity, 2 * nominalEntries))

  def update(v: Long): Unit = updateHash(hashLong(v))
  def update(s: String): Unit = updateHash(hashBytes(s.getBytes("UTF-8")))
  def update(d: Double): Unit = updateHash(hashLong(java.lang.Double.doubleToLongBits(d + 0.0)))

  /** Sort the hashes appended since the last rebuild, merge them into the
    * sorted prefix (deduping, dropping entries at/above theta, which a merge
    * may have lowered after they were buffered), and if still over nominal
    * capacity jump theta to the (k+1)-th smallest, trimming the rest. */
  private def rebuild(): Unit = {
    if (sortedN == n && (n == 0 || hashes(n - 1) < theta)) return
    BucketSort.sort(hashes, sortedN, n)
    val prefix = Arrays.copyOf(hashes, sortedN)
    var i = 0       // prefix cursor
    var r = sortedN // appended cursor; the write cursor w never passes it
    var w = 0
    while ((i < prefix.length && prefix(i) < theta) || (r < n && hashes(r) < theta)) {
      val h =
        if (r >= n || hashes(r) >= theta || (i < prefix.length && prefix(i) <= hashes(r))) {
          i += 1; prefix(i - 1)
        } else { r += 1; hashes(r - 1) }
      if (w == 0 || h != hashes(w - 1)) { hashes(w) = h; w += 1 }
    }
    n = w
    if (n > nominalEntries) {
      theta = hashes(nominalEntries) // (k+1)-th smallest, exclusive bound
      n = nominalEntries
    }
    sortedN = n
    // keep capacity bounded at 2x nominal
    if (hashes.length > 2 * nominalEntries) hashes = Arrays.copyOf(hashes, 2 * nominalEntries)
  }

  /** Finalize internal state: sorted, deduped, within nominal capacity. */
  def compact(): ThetaSketch = { rebuild(); this }

  /** Distinct-count estimate: exact when theta == MAX, else retained/theta. */
  def estimate: Double =
    if (!isEstimationMode) n.toDouble else n.toDouble / thetaFraction

  /** +/- numStdDev RSE bounds (RSE = 1/sqrt(retained - 1)). */
  def lowerBound(numStdDev: Int): Double =
    if (!isEstimationMode) estimate
    else estimate / (1.0 + numStdDev / math.sqrt(math.max(n - 1, 1).toDouble))
  def upperBound(numStdDev: Int): Double =
    if (!isEstimationMode) estimate
    else estimate * (1.0 + numStdDev / math.sqrt(math.max(n - 1, 1).toDouble))

  /** In-place union (the mergeable-aggregator combine step): takes the
    * lower theta and appends the other's buffered hashes below it; the next
    * rebuild dedupes them and drops this sketch's own entries at or above
    * the lowered theta. Neither sketch is rebuilt here. */
  def merge(other: ThetaSketch): ThetaSketch = {
    if (other.theta < theta) theta = other.theta
    val on = other.n
    grow(n + on) // one copy instead of repeated doubling
    var i = 0
    while (i < on) {
      val h = other.hashes(i)
      if (h < theta) append(h)
      i += 1
    }
    this
  }

  private[core] def sortedHashes: Array[Long] = { rebuild(); Arrays.copyOf(hashes, n) }

  /** Length of the hash buffer (grows with what the sketch holds). */
  private[core] def bufferCapacity: Int = hashes.length

  /** Big-endian [version:1][nominal:4][theta:8][n:4][hashes:8*n]. */
  def serialize(): Array[Byte] = {
    rebuild()
    val buf = ByteBuffer.allocate(HeaderBytes + 8 * n)
    buf.put(1.toByte).putInt(nominalEntries).putLong(theta).putInt(n)
    buf.asLongBuffer().put(hashes, 0, n)
    buf.array()
  }
}

object ThetaSketch extends SketchFormat[ThetaSketch] {
  val DefaultNominalEntries = 4096
  /** Hash-buffer length of a fresh sketch; it doubles up to 2x nominal. */
  val InitialCapacity = 16
  private val HeaderBytes = 1 + 4 + 8 + 4
  private val PartialHeaderBytes = 4 + 8 + 4 + 4
  private val NativeBigEndian = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.BIG_ENDIAN

  def apply(nominalEntries: Int = DefaultNominalEntries): ThetaSketch = {
    require(nominalEntries >= 16 && (nominalEntries & (nominalEntries - 1)) == 0,
      s"nominalEntries must be a power of 2 >= 16, got $nominalEntries")
    new ThetaSketch(nominalEntries, Long.MaxValue, new Array[Long](InitialCapacity), 0, 0)
  }

  def deserialize(bytes: Array[Byte]): ThetaSketch = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.get() == 1, "unknown ThetaSketch version")
    val nom = buf.getInt()
    val theta = buf.getLong()
    val n = buf.getInt()
    val arr = new Array[Long](math.max(n, InitialCapacity))
    buf.asLongBuffer().get(arr, 0, n)
    new ThetaSketch(nom, theta, arr, n, n) // serialized hashes are sorted and distinct
  }

  /** [nominal:4][theta:8][n:4][sortedN:4][hashes:8*n]: the buffer as it
    * is, unsorted tail and duplicates included, so writing a partial costs
    * no sort; the final `serialize()` rebuilds once. */
  override def partialImage(s: ThetaSketch): Array[Byte] = {
    val buf = ByteBuffer.allocate(PartialHeaderBytes + 8 * s.n)
    buf.putInt(s.nominalEntries).putLong(s.theta).putInt(s.n).putInt(s.sortedN)
    buf.asLongBuffer().put(s.hashes, 0, s.n)
    buf.array()
  }

  override def readPartialImage(bytes: Array[Byte]): ThetaSketch = {
    val buf = ByteBuffer.wrap(bytes)
    val nom = buf.getInt()
    val theta = buf.getLong()
    val n = buf.getInt()
    val sortedN = buf.getInt()
    val arr = new Array[Long](math.max(n, InitialCapacity))
    buf.asLongBuffer().get(arr, 0, n)
    new ThetaSketch(nom, theta, arr, n, sortedN)
  }

  /** Intersection estimate over compacted sketches: common entries below
    * min theta, scaled by min theta. */
  def intersection(a: ThetaSketch, b: ThetaSketch): ThetaResult = {
    val minTheta = math.min(a.thetaLong, b.thetaLong)
    val ah = a.sortedHashes
    val bh = b.sortedHashes
    var i = 0; var j = 0; var common = 0
    while (i < ah.length && j < bh.length) {
      if (ah(i) < bh(j)) i += 1
      else if (ah(i) > bh(j)) j += 1
      else {
        if (ah(i) < minTheta) common += 1
        i += 1; j += 1
      }
    }
    ThetaResult(common, minTheta.toDouble / Long.MaxValue.toDouble)
  }

  /** A-not-B estimate: entries of a below min theta that are not in b. */
  def aNotB(a: ThetaSketch, b: ThetaSketch): ThetaResult = {
    val minTheta = math.min(a.thetaLong, b.thetaLong)
    val ah = a.sortedHashes
    val bh = b.sortedHashes
    var i = 0; var j = 0; var only = 0
    while (i < ah.length) {
      while (j < bh.length && bh(j) < ah(i)) j += 1
      val inB = j < bh.length && bh(j) == ah(i)
      if (!inB && ah(i) < minTheta) only += 1
      i += 1
    }
    ThetaResult(only, minTheta.toDouble / Long.MaxValue.toDouble)
  }

  /** 64-bit finalizer (SplitMix64 mix) — uniform hash for longs. */
  def hashLong(v: Long): Long = SplitMix64.mix(v ^ 0x2545F4914F6CDD1DL)

  /** Bytes → 64-bit hash (xxh64-inspired little mixer over 8-byte words —
    * deterministic, same on driver and executors). */
  def hashBytes(b: Array[Byte]): Long = hashBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length)

  /** [[hashBytes]] over `len` bytes at `base`+`offset` in Spark's unsafe
    * addressing — hashes a `UTF8String` in place, without copying it out.
    * Each 8-byte word is read with one (unaligned, as Spark's own
    * `UTF8String` code reads) load and taken big-endian. */
  def hashBytes(base: AnyRef, offset: Long, len: Int): Long = {
    var h = 0x9E3779B97F4A7C15L ^ (len * 0xC2B2AE3D27D4EB4FL)
    var i = 0
    while (i + 8 <= len) {
      val w = Platform.getLong(base, offset + i)
      h = SplitMix64.mix(h ^ (if (NativeBigEndian) w else java.lang.Long.reverseBytes(w)))
      i += 8
    }
    var tail = 0L
    while (i < len) { tail = (tail << 8) | (Platform.getByte(base, offset + i) & 0xFFL); i += 1 }
    SplitMix64.mix(h ^ tail)
  }
}

/** Result of a theta set expression: estimate = retained / thetaFraction. */
final case class ThetaResult(retained: Int, thetaFraction: Double) {
  def estimate: Double = retained / thetaFraction
  def lowerBound(numStdDev: Int): Double =
    if (thetaFraction >= 1.0) estimate
    else estimate / (1.0 + numStdDev / math.sqrt(math.max(retained - 1, 1).toDouble))
  def upperBound(numStdDev: Int): Double =
    if (thetaFraction >= 1.0) estimate
    else estimate * (1.0 + numStdDev / math.sqrt(math.max(retained - 1, 1).toDouble))
}

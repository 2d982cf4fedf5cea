package graft.core

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** KLL quantile sketch over doubles (Karnin-Lang-Liberty, "Optimal Quantile
  * Approximation in Streams", FOCS'16) — the flat-error sibling of the REQ
  * sketch (`ReqSketch` gives relative error at one end; KLL gives uniform
  * eps everywhere, cf. SURVEY.md §2.1 #16 accuracy-profile note).
  *
  * Level h holds items of weight 2^h. Level capacities shrink geometrically
  * (c = 2/3) from k at the top level, floored at MinLevelCap. Compaction
  * keeps evens-or-odds of the sorted level (deterministically seeded coin —
  * required for cluster-assignment/resume parity across parallelism levels,
  * same discipline as ReqCompactor).
  *
  * Normalized rank error (two-sided, with high probability): roughly
  * eps ~= 1.33 / k for the default k. Mergeable: `merge` concatenates
  * per-level buffers and re-compacts — associative up to the eps bound,
  * which is what `KllSketchAgg` needs across partitions.
  */
final class KllSketch private (
    val k: Int,
    var totalN: Long,
    var minValue: Double,
    var maxValue: Double,
    // level h holds sizes(h) items of weight 2^h in levels(h)(0 until sizes(h)),
    // in insertion order; each array grows geometrically past what it holds
    private var levels: Array[Array[Double]],
    private var sizes: Array[Int],
    var coinState: Long
) extends Mergeable[KllSketch] with Serializable {

  import KllSketch._

  private var retained0: Int = sizes.sum
  // per-level capacities at the current level count, total last
  private var caps: Array[Int] = capacities(k, levels.length)

  def count: Long = totalN
  def isEmpty: Boolean = totalN == 0
  def minimum: Double = minValue
  def maximum: Double = maxValue
  def numLevels: Int = levels.length
  def levelCount(h: Int): Int = sizes(h)
  def retained: Int = retained0

  private def totalCapacity: Int = caps(levels.length)

  private def addLevel(): Unit = {
    levels = java.util.Arrays.copyOf(levels, levels.length + 1)
    levels(levels.length - 1) = new Array[Double](InitialLevelCapacity)
    sizes = java.util.Arrays.copyOf(sizes, sizes.length + 1)
    caps = capacities(k, levels.length)
  }

  /** Room for `extra` more items on level h. */
  private def reserve(h: Int, extra: Int): Array[Double] = {
    val arr = levels(h)
    val need = sizes(h) + extra
    if (need > arr.length) {
      levels(h) = java.util.Arrays.copyOf(arr, math.max(need, math.max(2 * arr.length, InitialLevelCapacity)))
    }
    levels(h)
  }

  def update(v: Double): Unit = {
    if (java.lang.Double.isNaN(v)) return
    if (isEmpty) { minValue = v; maxValue = v }
    else {
      if (v < minValue) minValue = v
      if (v > maxValue) maxValue = v
    }
    totalN += 1
    reserve(0, 1)(sizes(0)) = v
    sizes(0) += 1
    retained0 += 1
    if (retained0 >= totalCapacity) compress()
  }

  private def nextCoin(): Boolean = {
    coinState = SplitMix64.mix(coinState + 0x9E3779B97F4A7C15L)
    (coinState & 1L) == 1L
  }

  /** Compact the lowest over-capacity level into the next one. */
  private def compress(): Unit = {
    var h = 0
    while (retained0 >= totalCapacity && h < levels.length) {
      if (sizes(h) >= caps(h)) {
        if (h + 1 == levels.length) addLevel()
        val arr = levels(h)
        val len = sizes(h)
        BucketSort.sort(arr, 0, len)
        // odd length: hold the smallest item out of the compaction so the
        // compacted range is even — total weight is conserved exactly:
        // promoted * 2^(h+1) + excess * 2^h == length * 2^h
        val excess = len % 2
        val offset = if (nextCoin()) 1 else 0
        val promoted = (len - excess) / 2
        val up = reserve(h + 1, promoted)
        var w = sizes(h + 1)
        var i = excess + offset
        while (i < len) { up(w) = arr(i); w += 1; i += 2 }
        sizes(h + 1) = w
        sizes(h) = excess // the held-out smallest item is already at arr(0)
        retained0 -= promoted
      }
      h += 1
    }
  }

  def merge(other: KllSketch): KllSketch = {
    require(other.k == k, s"cannot merge KLL sketches with different k: $k vs ${other.k}")
    if (other.isEmpty) return this
    if (isEmpty) { minValue = other.minValue; maxValue = other.maxValue }
    else {
      if (other.minValue < minValue) minValue = other.minValue
      if (other.maxValue > maxValue) maxValue = other.maxValue
    }
    totalN += other.totalN
    while (levels.length < other.levels.length) addLevel()
    var h = 0
    while (h < other.levels.length) {
      val n = other.sizes(h)
      System.arraycopy(other.levels(h), 0, reserve(h, n), sizes(h), n)
      sizes(h) += n
      h += 1
    }
    retained0 += other.retained0
    coinState ^= other.coinState * 0xC2B2AE3D27D4EB4FL
    while (retained0 >= totalCapacity) compress()
    this
  }

  /** Sorted (item, cumulative weight) view for quantile queries. */
  private def cumulative(): (Array[Double], Array[Long]) = {
    val pairs = new ArrayBuffer[(Double, Long)](retained)
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      var i = 0
      while (i < sizes(h)) { pairs += ((levels(h)(i), w)); i += 1 }
      h += 1
    }
    val sorted = pairs.sortBy(_._1)
    val items = new Array[Double](sorted.length)
    val cum = new Array[Long](sorted.length)
    var acc = 0L
    var i = 0
    while (i < sorted.length) {
      items(i) = sorted(i)._1
      acc += sorted(i)._2
      cum(i) = acc
      i += 1
    }
    (items, cum)
  }

  /** Normalized rank of v under `<` (fraction of stream strictly below v). */
  def rank(v: Double): Double = {
    if (isEmpty) return Double.NaN
    var below = 0L
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      val arr = levels(h)
      var i = 0
      while (i < sizes(h)) { if (arr(i) < v) below += w; i += 1 }
      h += 1
    }
    below.toDouble / totalN
  }

  def quantile(r: Double): Double = {
    require(r >= 0.0 && r <= 1.0, s"rank $r out of [0,1]")
    if (isEmpty) return Double.NaN
    if (r <= 0.0) return minValue
    if (r >= 1.0) return maxValue
    val (items, cum) = cumulative()
    val target = math.max(1L, math.ceil(r * cum.last).toLong)
    var lo = 0
    var hi = items.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cum(mid) < target) lo = mid + 1 else hi = mid
    }
    items(lo)
  }

  def quantiles(rs: Seq[Double]): Seq[Double] = rs.map(quantile)

  /** A-priori two-sided normalized rank error bound (paper constant). */
  def normalizedRankError: Double = KllSketch.normalizedRankError(k)

  /** Versioned little-endian layout (matches the REQ/Theta/HLL discipline
    * so stored KLL sketch columns can evolve): [version:1][k:4][n:8][min:8]
    * [max:8][coin:8][numLevels:4][sizes:4*L][items:8*N]. */
  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(HeaderBytes + levels.length * 4 + retained0 * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(KllSketch.SerVersion.toByte)
    buf.putInt(k).putLong(totalN).putDouble(minValue).putDouble(maxValue).putLong(coinState)
    buf.putInt(levels.length)
    buf.asIntBuffer().put(sizes)
    buf.position(buf.position() + 4 * levels.length)
    val items = buf.asDoubleBuffer()
    var h = 0
    while (h < levels.length) { items.put(levels(h), 0, sizes(h)); h += 1 }
    buf.array()
  }
}

object KllSketch extends SketchFormat[KllSketch] {
  val DefaultK = 200
  val MinLevelCap = 8
  val SerVersion = 1
  private val TwoThirds = 2.0 / 3.0
  private val InitialLevelCapacity = 16
  private val HeaderBytes = 1 + 4 + 8 + 8 + 8 + 8 + 4

  /** Level capacities k * (2/3)^depth (floored at MinLevelCap) for
    * `numLevels` levels, followed by their sum; shared per (k, numLevels). */
  private val capacityCache = new java.util.concurrent.ConcurrentHashMap[Long, Array[Int]]()
  private def capacities(k: Int, numLevels: Int): Array[Int] =
    capacityCache.computeIfAbsent((k.toLong << 32) | numLevels, _ => {
      val caps = new Array[Int](numLevels + 1)
      var h = 0
      while (h < numLevels) {
        caps(h) = math.max(MinLevelCap, math.ceil(k * math.pow(TwoThirds, numLevels - 1 - h)).toInt)
        caps(numLevels) += caps(h)
        h += 1
      }
      caps
    })

  /** Published two-sided error constant for KLL with evens/odds compaction. */
  def normalizedRankError(k: Int): Double = 2.296 / math.pow(k, 0.9723)

  def apply(k: Int = DefaultK): KllSketch = {
    require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")
    new KllSketch(k, 0L, Double.NaN, Double.NaN,
      Array(new Array[Double](InitialLevelCapacity)), new Array[Int](1), 0xD1CEB00CD1CEB00CL ^ k.toLong)
  }

  def deserialize(bytes: Array[Byte]): KllSketch = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val ver = buf.get()
    require(ver == SerVersion.toByte, s"unknown KllSketch serialization version $ver")
    val k = buf.getInt
    val n = buf.getLong
    val mn = buf.getDouble
    val mx = buf.getDouble
    val coin = buf.getLong
    val numLevels = buf.getInt
    val sizes = new Array[Int](numLevels)
    buf.asIntBuffer().get(sizes)
    val items = buf.position(buf.position() + 4 * numLevels).asDoubleBuffer()
    val levels = sizes.map { s => val l = new Array[Double](s); items.get(l); l }
    new KllSketch(k, n, mn, mx, levels, sizes, coin)
  }
}

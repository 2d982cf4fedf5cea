package graft.core

import java.nio.ByteBuffer

/** Mergeable Bloom filter over 64-bit keys — the membership member of the
  * sketch layer (quantiles: REQ/KLL, cardinality: HLL/Theta, frequency:
  * Misra–Gries, membership: this). Bloom 1970; k index derivation via
  * Kirsch–Mitzenmacher double hashing ("Less Hashing, Same Performance",
  * ESA'06). Merge is bitset OR over identical configs, so it runs as a
  * map-side-partial Catalyst aggregate: each partition contributes one
  * filter, the shuffle carries filters (never keys), and the result is
  * byte-identical to a single-threaded build over any input order — the
  * same zero/insert/merge lifecycle as the reference sketch
  * (`/root/reference/src/DataSketches/Quantiles/RelativeErrorQuantile.hs:428-503`)
  * with a set-union combine instead of compaction.
  *
  * Guarantees: NO false negatives, ever — an inserted key always tests
  * true, including through any merge sequence (OR only sets bits). False
  * positives occur at a rate governed by sizing: `optimalNumBits(n, fpp)`
  * gives m = -n·ln(fpp)/ln²2 and k = (m/n)·ln2.
  *
  * Corpus use case: the clean-corpus membership filter for incremental
  * dedup ([[graft.operators.ExactDedup.incrementalSurvivorsBloom]]) —
  * built once over corpus content hashes, persisted, appended with each
  * increment's survivors (merge), and broadcast to prefilter the daily
  * batch so only maybe-duplicates reach the exact anti-join.
  */
final class BloomFilter private (
    val numBits: Long,
    val numHashes: Int,
    private val words: Array[Long],
    private var _itemsAdded: Long
) extends MembershipFilter with Mergeable[BloomFilter] with Serializable {

  /** Count of update() calls absorbed (not distinct keys) — sizing telemetry. */
  def itemsAdded: Long = _itemsAdded

  def update(key: Long): Unit = {
    var i = 0
    val h1 = SplitMix64.mix(key ^ BloomFilter.SeedA)
    // forced odd: a zero/even stride would degenerate the k probes
    val h2 = SplitMix64.mix(key ^ BloomFilter.SeedB) | 1L
    var h = h1
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h, numBits)
      words((bit >>> 6).toInt) |= 1L << (bit & 63)
      h += h2
      i += 1
    }
    _itemsAdded += 1
  }

  /** True if the key may be in the set; false means DEFINITELY absent. */
  def mightContain(key: Long): Boolean = {
    var i = 0
    val h1 = SplitMix64.mix(key ^ BloomFilter.SeedA)
    val h2 = SplitMix64.mix(key ^ BloomFilter.SeedB) | 1L
    var h = h1
    while (i < numHashes) {
      val bit = java.lang.Long.remainderUnsigned(h, numBits)
      if ((words((bit >>> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }

  /** Fraction of bits set — load telemetry; the expected false-positive
    * rate of the CURRENT state is bitLoad^numHashes. */
  def bitLoad: Double = {
    var set = 0L
    var i = 0
    while (i < words.length) { set += java.lang.Long.bitCount(words(i)); i += 1 }
    set.toDouble / numBits
  }

  def expectedFpp: Double = math.pow(bitLoad, numHashes.toDouble)

  /** Bitset OR; no-false-negative survives any merge order. */
  def merge(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"cannot merge BloomFilter($numBits,$numHashes) with (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    _itemsAdded += other._itemsAdded
    this
  }

  /** Big-endian [version:1][numBits:8][numHashes:4][items:8][words:8*W]. */
  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(BloomFilter.HeaderBytes + words.length * 8)
    buf.put(1.toByte).putLong(numBits).putInt(numHashes).putLong(_itemsAdded)
    buf.asLongBuffer().put(words)
    buf.array()
  }
}

/** The no-false-negative membership contract both Bloom variants satisfy —
  * lets the incremental-dedup prefilter probe either interchangeably. */
trait MembershipFilter {
  /** True if the key may be in the set; false means DEFINITELY absent. */
  def mightContain(key: Long): Boolean
}

object BloomFilter extends SketchFormat[BloomFilter] {
  private[core] val SeedA = 0x71ee2a3173c6bb17L
  private[core] val SeedB = 0x2545f4914f6cdd1dL
  private val HeaderBytes = 1 + 8 + 4 + 8

  /** m = ceil(-n ln p / ln^2 2), floored at 64 bits. */
  def optimalNumBits(expectedItems: Long, fpp: Double): Long = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1, s"bad sizing ($expectedItems, $fpp)")
    math.max(64L, math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
  }

  /** k = max(1, round(m/n ln 2)). */
  def optimalNumHashes(expectedItems: Long, numBits: Long): Int =
    math.max(1, math.round(numBits.toDouble / expectedItems * math.log(2)).toInt)

  def apply(expectedItems: Long, fpp: Double): BloomFilter = {
    val m = optimalNumBits(expectedItems, fpp)
    withConfig(m, optimalNumHashes(expectedItems, m))
  }

  def withConfig(numBits: Long, numHashes: Int): BloomFilter = {
    require(numBits >= 64 && numBits <= (Int.MaxValue.toLong << 6),
      s"numBits must be in [64, 2^37), got $numBits")
    require(numHashes >= 1 && numHashes <= 64, s"numHashes must be in [1,64], got $numHashes")
    new BloomFilter(numBits, numHashes, new Array[Long](((numBits + 63) >>> 6).toInt), 0L)
  }

  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.get() == 1, "unknown BloomFilter version")
    val numBits = buf.getLong()
    val numHashes = buf.getInt()
    val items = buf.getLong()
    val words = new Array[Long](((numBits + 63) >>> 6).toInt)
    buf.asLongBuffer().get(words)
    new BloomFilter(numBits, numHashes, words, items)
  }
}

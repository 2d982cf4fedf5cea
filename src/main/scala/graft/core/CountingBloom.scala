package graft.core

import java.nio.ByteBuffer

/** Mergeable COUNTING Bloom filter over 64-bit keys — the deletable twin of
  * [[BloomFilter]] (Fan, Cao, Almeida, Broder: "Summary Cache", 1998/2000).
  * Each probe position holds an 8-bit saturating counter instead of one
  * bit, so membership retirement becomes possible: deleting an inserted
  * key decrements its k cells, and remaining members never lose a cell
  * they contributed to (two keys sharing a cell both incremented it).
  *
  * Why it exists here: the incremental-dedup corpus filter
  * ([[graft.operators.ExactDedup.corpusBloom]]) can only GROW — `merge`
  * is a bitset OR. After survivor selection retires cluster losers, the
  * plain filter silently keeps matching the retired keys; the only exact
  * fix is a full rebuild over the corpus (10^12 key scans per curation
  * epoch). This filter retires the losers with ONE aggregate over the
  * retired keys plus a cell-wise [[subtract]] — the same lifecycle step
  * `MinHashLSH.retainPostings` gives the band indexes.
  *
  * Probe derivation is IDENTICAL to [[BloomFilter]] (same seeds, same
  * Kirsch–Mitzenmacher double hashing), so a counting filter sized with
  * the same (n, fpp) probes the same cell indexes its bitset twin would.
  * Cost: 8x the bytes of the bitset filter — the price of deletability;
  * size accordingly ((~9.6 GB per 10^9 keys at fpp 0.01) and shard by
  * hash range past broadcast size exactly like `corpusBloomShards`.
  *
  * Guarantees:
  *  - NO false negatives for present keys, through any merge schedule and
  *    any [[remove]]/[[subtract]] of keys that were actually inserted,
  *    PROVIDED no probed cell ever saturated. Saturation is loudly
  *    refused by subtract and tracked by [[maxCell]]; at optimal sizing
  *    the per-cell load is Poisson(ln 2), so P(cell >= 255) is
  *    astronomically small (< 1e-450) — the guard is belt-and-braces.
  *  - [[merge]] is cell-wise SATURATING add: commutative and associative
  *    (min(a+b, 255) over non-negatives), so partial aggregation is
  *    byte-identical under any merge schedule.
  *  - Removing a key that was never inserted is a CONTRACT VIOLATION (it
  *    can create false negatives for real members); [[remove]] throws
  *    when a probed cell is already zero — the violation is detected
  *    whenever it would have mattered most.
  */
final class CountingBloomFilter private (
    val numCells: Long,
    val numHashes: Int,
    private val cells: Array[Byte],
    private var _itemsAdded: Long
) extends MembershipFilter with Mergeable[CountingBloomFilter] with Serializable {

  /** Net update() count: inserts minus removes (subtract subtracts) —
    * sizing/retirement telemetry, deterministic. */
  def itemsAdded: Long = _itemsAdded

  def update(key: Long): Unit = {
    var i = 0
    val h1 = SplitMix64.mix(key ^ BloomFilter.SeedA)
    val h2 = SplitMix64.mix(key ^ BloomFilter.SeedB) | 1L
    var h = h1
    while (i < numHashes) {
      val cell = java.lang.Long.remainderUnsigned(h, numCells).toInt
      val c = cells(cell) & 0xff
      if (c < 255) cells(cell) = (c + 1).toByte // saturate, never wrap
      h += h2
      i += 1
    }
    _itemsAdded += 1
  }

  /** Retire one INSERTED key. Decrements each probed cell unless that cell
    * saturated (a saturated cell's true count is unknown — leaving it can
    * only cause false positives, never false negatives). Throws on a
    * zero cell: that proves the key was never inserted (or was already
    * removed), which is the caller contract violation that could corrupt
    * membership. All k cells are validated BEFORE any is mutated, so a
    * thrown violation leaves the filter byte-identical — a caller that
    * catches and keeps the filter still has every member's cells intact
    * (a partial decrement could fabricate false negatives). */
  def remove(key: Long): Unit = {
    val h1 = SplitMix64.mix(key ^ BloomFilter.SeedA)
    val h2 = SplitMix64.mix(key ^ BloomFilter.SeedB) | 1L
    // the k probes can COLLIDE on a cell (h2 and numCells need not be
    // coprime), so validation must be multiset-aware: collect distinct
    // cells with their probe multiplicity, require each unsaturated cell
    // holds >= its hits, then mutate — a violation leaves the filter
    // byte-identical, and a twice-probed count-1 cell refuses instead of
    // wrapping 0 -> 255
    val cellIdx = new Array[Int](numHashes)
    val hits = new Array[Int](numHashes)
    var n = 0
    var i = 0
    var h = h1
    while (i < numHashes) {
      val cell = java.lang.Long.remainderUnsigned(h, numCells).toInt
      var j = 0
      while (j < n && cellIdx(j) != cell) j += 1
      if (j == n) { cellIdx(n) = cell; hits(n) = 1; n += 1 }
      else hits(j) += 1
      h += h2
      i += 1
    }
    i = 0
    while (i < n) { // read-only validation pass
      val c = cells(cellIdx(i)) & 0xff
      require(c == 255 || c >= hits(i),
        s"remove() of a key that is not in the filter (cell ${cellIdx(i)} " +
          s"holds $c for ${hits(i)} probes)")
      i += 1
    }
    i = 0
    while (i < n) {
      val c = cells(cellIdx(i)) & 0xff
      // a saturated cell's true count is unknown — leave it (fp-only risk)
      if (c < 255) cells(cellIdx(i)) = (c - hits(i)).toByte
      i += 1
    }
    _itemsAdded -= 1
  }

  /** True if the key may be in the set; false means DEFINITELY absent. */
  def mightContain(key: Long): Boolean = {
    var i = 0
    val h1 = SplitMix64.mix(key ^ BloomFilter.SeedA)
    val h2 = SplitMix64.mix(key ^ BloomFilter.SeedB) | 1L
    var h = h1
    while (i < numHashes) {
      if (cells(java.lang.Long.remainderUnsigned(h, numCells).toInt) == 0) return false
      h += h2
      i += 1
    }
    true
  }

  /** Largest cell count — saturation telemetry (255 means saturated). */
  def maxCell: Int = {
    var m = 0
    var i = 0
    while (i < cells.length) { val c = cells(i) & 0xff; if (c > m) m = c; i += 1 }
    m
  }

  /** Fraction of non-zero cells; expected fp rate of the CURRENT state is
    * cellLoad^numHashes (the bitset-filter formula — a cell is "set" iff
    * non-zero). */
  def cellLoad: Double = {
    var set = 0L
    var i = 0
    while (i < cells.length) { if (cells(i) != 0) set += 1; i += 1 }
    set.toDouble / numCells
  }

  def expectedFpp: Double = math.pow(cellLoad, numHashes.toDouble)

  /** Cell-wise saturating add — the linear combine (order-free). */
  def merge(other: CountingBloomFilter): CountingBloomFilter = {
    require(other.numCells == numCells && other.numHashes == numHashes,
      s"cannot merge CountingBloomFilter($numCells,$numHashes) with (${other.numCells},${other.numHashes})")
    var i = 0
    while (i < cells.length) {
      val s = (cells(i) & 0xff) + (other.cells(i) & 0xff)
      cells(i) = (if (s > 255) 255 else s).toByte
      i += 1
    }
    _itemsAdded += other._itemsAdded
    this
  }

  /** Retire a WHOLE BATCH of inserted keys at once: `deletes` is a counting
    * filter built (with the same config) over exactly the keys to retire —
    * one distributed aggregate — and this subtracts it cell-wise. Exact
    * (equivalent to calling [[remove]] per key) iff no cell in EITHER
    * filter saturated and the retired multiset is a sub-multiset of what
    * was inserted; both are checked loudly. */
  def subtract(deletes: CountingBloomFilter): CountingBloomFilter = {
    require(deletes.numCells == numCells && deletes.numHashes == numHashes,
      s"cannot subtract CountingBloomFilter(${deletes.numCells},${deletes.numHashes}) from ($numCells,$numHashes)")
    // a saturated cell's true count is unknown on either side — refuse
    // rather than silently risk a false negative (unreachable at optimal
    // sizing; see class doc)
    require(maxCell < 255, "subtract from a filter with a saturated cell")
    require(deletes.maxCell < 255, "subtract of a deletes filter with a saturated cell")
    // validate every cell BEFORE mutating any: a mid-loop underflow abort
    // must leave the filter byte-identical, or a caller that catches the
    // violation keeps a partially-decremented filter whose false negatives
    // break the class's headline guarantee
    var i = 0
    while (i < cells.length) {
      val c = cells(i) & 0xff
      val d = deletes.cells(i) & 0xff
      require(d <= c,
        s"subtract underflow at cell $i ($d > $c): retired keys were not all in the filter")
      i += 1
    }
    i = 0
    while (i < cells.length) {
      cells(i) = ((cells(i) & 0xff) - (deletes.cells(i) & 0xff)).toByte
      i += 1
    }
    _itemsAdded -= deletes._itemsAdded
    this
  }

  /** Big-endian [version:1][numCells:8][numHashes:4][items:8][cells:numCells]. */
  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(CountingBloomFilter.HeaderBytes + cells.length)
    buf.put(1.toByte).putLong(numCells).putInt(numHashes).putLong(_itemsAdded)
    System.arraycopy(cells, 0, buf.array(), CountingBloomFilter.HeaderBytes, cells.length)
    buf.array()
  }
}

object CountingBloomFilter extends SketchFormat[CountingBloomFilter] {
  private val HeaderBytes = 1 + 8 + 4 + 8

  /** Same optimal sizing as the bitset filter (cells play the role of
    * bits in the fp analysis). */
  def apply(expectedItems: Long, fpp: Double): CountingBloomFilter = {
    val m = BloomFilter.optimalNumBits(expectedItems, fpp)
    withConfig(m, BloomFilter.optimalNumHashes(expectedItems, m))
  }

  def withConfig(numCells: Long, numHashes: Int): CountingBloomFilter = {
    require(numCells >= 64 && numCells <= Int.MaxValue.toLong,
      s"numCells must be in [64, 2^31), got $numCells")
    require(numHashes >= 1 && numHashes <= 64, s"numHashes must be in [1,64], got $numHashes")
    new CountingBloomFilter(numCells, numHashes, new Array[Byte](numCells.toInt), 0L)
  }

  def deserialize(bytes: Array[Byte]): CountingBloomFilter = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.get() == 1, "unknown CountingBloomFilter version")
    val numCells = buf.getLong()
    val numHashes = buf.getInt()
    val items = buf.getLong()
    val cells = new Array[Byte](numCells.toInt)
    System.arraycopy(bytes, HeaderBytes, cells, 0, cells.length)
    new CountingBloomFilter(numCells, numHashes, cells, items)
  }
}

package graft.core

import java.nio.ByteBuffer

/** Count-Min sketch — the point-query member of the mergeable-sketch layer
  * (REQ/KLL quantiles, HLL/Theta cardinality, Misra–Gries heavy hitters,
  * this for per-item frequency estimates). Cormode & Muthukrishnan,
  * "An Improved Data Stream Summary: The Count-Min Sketch and its
  * Applications", J. Algorithms 2005. Corpus use case: approximate
  * token/domain/template frequency lookup tables over a web-scale stream
  * where Misra–Gries answers "what is heavy" but not "how often is THIS
  * item" for the long tail — CMS answers point queries for every item at a
  * fixed depth x width cost.
  *
  * The sketch is LINEAR (counters add), which buys exact distributivity:
  * any partition of the stream, updated into partials and merged in any
  * order/shape, yields the byte-identical counter table of the single-pass
  * sketch (CmsSketchSpec pins this). Same zero/insert/merge/query
  * lifecycle as the reference sketch (`RelativeErrorQuantile.hs:479-503`).
  *
  * Deterministic guarantees (pinned by `q_cms_tokens` / the spec):
  *  - `estimate(x) >= trueCount(x)` always (counters only over-count);
  *  - every row of the table sums to `streamWeight` (conservation — the
  *    update adds each item's weight to exactly one counter per row);
  *  - merge = counter-wise add, requiring identical (depth, width, seed).
  * The eps = e/width error bound holds per row in expectation and over the
  * depth rows with probability 1 - e^-depth — probabilistic, so it lives in
  * the spec as a generous assertion, not in the hash-checked query.
  *
  * Storage, in two modes:
  *  - items: while it has seen at most [[itemLimit]] distinct items
  *    (`width / 16`: 64 at the default 5 x 1024) it counts by item hash in
  *    a small open-addressing table, one probe per update;
  *  - dense: the next new item moves the counted items into the
  *    depth x width table, and updates go to the depth counters of their
  *    item.
  * A group of a many-group aggregate typically holds a few dozen items, so
  * its buffer is a few hundred bytes instead of 40 KB. Counters are linear,
  * so counting an item's updates before adding them to its counters sets
  * the same counters to the same counts, and the mode never shows in the
  * bytes: `serialize()` writes the dense v1 image in either mode (an
  * item-mode sketch adds its items at their counters' offsets of the
  * zeroed image), so equal streams serialize byte-identically whatever path
  * built them. Estimates, `rowsConserved` and a merge with a dense sketch
  * move an item-mode sketch to the dense table first; a merge of item-mode
  * sketches counts the other's items one by one. Only the partial image
  * (`CmsSketch.partialImage`, an aggregate's own shuffle and spill
  * buffers) writes (item hash, count) pairs while the sketch is in item
  * mode.
  */
final class CmsSketch private (
    val depth: Int,
    val width: Int,
    private var table: Array[Long],      // dense: row-major depth x width; null in item mode
    private var itemHashes: Array[Long], // items: each slot's item hash; null once dense
    private var itemCounts: Array[Long], // items: each slot's count, 0 = empty
    private var items: Int,              // items: occupied slots
    private var _streamWeight: Long
) extends Mergeable[CmsSketch] with Serializable {
  import CmsSketch._

  def streamWeight: Long = _streamWeight

  /** Distinct items counted by hash before the sketch moves to the dense
    * table. */
  val itemLimit: Int = width / 16

  // width - 1 for a power-of-two width (the default), where masking equals
  // the non-negative remainder; -1 selects the division
  private val widthMask: Long = if ((width & (width - 1)) == 0) width - 1L else -1L

  /** Per-row seeds: splitmix64 of the row index — deterministic and
    * identical across JVMs, so sketches built anywhere merge. */
  @inline private def bucket(row: Int, itemHash: Long): Int = {
    // one extra mix round keyed by row (Kirsch–Mitzenmacher-style double
    // hashing over a single 64-bit item hash)
    var z = itemHash + (row + 1) * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    val nonNegative = z & Long.MaxValue
    (if (widthMask >= 0) nonNegative & widthMask else nonNegative % width).toInt
  }

  def update(item: String): Unit = update(item, 1L)

  def update(item: String, weight: Long): Unit =
    updateHash(ThetaSketch.hashBytes(item.getBytes(java.nio.charset.StandardCharsets.UTF_8)), weight)

  def updateHash(itemHash: Long, weight: Long): Unit = {
    require(weight > 0, s"weight must be positive, got $weight")
    _streamWeight += weight
    add(itemHash, weight)
  }

  /** Point estimate: min over rows — never below the true count. */
  def estimate(item: String): Long =
    estimateHash(ThetaSketch.hashBytes(item.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  def estimateHash(itemHash: Long): Long = {
    densify()
    var min = Long.MaxValue
    var r = 0
    while (r < depth) { min = math.min(min, table(r * width + bucket(r, itemHash))); r += 1 }
    min
  }

  /** Conservation invariant: every row's counters sum to streamWeight. */
  def rowsConserved: Boolean = {
    densify()
    table.grouped(width).forall(_.sum == _streamWeight)
  }

  /** The a-priori per-row error scale eps*W = e/width * W (the bound the
    * estimate beats with probability 1 - e^-depth). */
  def errorScale: Double = math.E / width * _streamWeight

  /** Counter-wise add (linearity); same-config required. */
  def merge(other: CmsSketch): CmsSketch = {
    require(other.depth == depth && other.width == width,
      s"cannot merge CmsSketch ${depth}x$width with ${other.depth}x${other.width}")
    if (other.table != null) {
      densify()
      var i = 0
      while (i < table.length) { table(i) += other.table(i); i += 1 }
    } else foreachItem(other.itemHashes, other.itemCounts)(add)
    _streamWeight += other._streamWeight
    this
  }

  /** Big-endian [version:1][depth:4][width:4][weight:8][table:8*depth*width]. */
  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(HeaderBytes + depth * width * 8)
    writeCanonical(buf)
    buf.array()
  }

  private def writeCanonical(buf: ByteBuffer): Unit = {
    buf.put(1.toByte).putInt(depth).putInt(width).putLong(_streamWeight)
    if (table != null) buf.asLongBuffer().put(table)
    else {
      // the buffer is zeroed: add each item's count at its counters' offsets
      val base = buf.position()
      foreachItem(itemHashes, itemCounts) { (h, c) =>
        var r = 0
        while (r < depth) {
          val at = base + (r * width + bucket(r, h)) * 8
          buf.putLong(at, buf.getLong(at) + c)
          r += 1
        }
      }
    }
  }

  /** Adds `w` to the item hashed `h`: to its count in item mode, where a
    * new item past [[itemLimit]] moves the sketch to the dense table, and
    * to its depth counters once dense. */
  private def add(h: Long, w: Long): Unit = {
    if (table == null) {
      if (countItem(h, w)) return
      densify()
    }
    var r = 0
    while (r < depth) { table(r * width + bucket(r, h)) += w; r += 1 }
  }

  /** Item mode: adds `w` to the count of the item hashed `h`; false, with
    * nothing counted, for a new item past [[itemLimit]]. */
  private def countItem(h: Long, w: Long): Boolean = {
    if (2 * items >= itemCounts.length && items < itemLimit) rehashItems(2 * itemCounts.length)
    val i = itemSlotOf(h)
    if (itemCounts(i) != 0) { itemCounts(i) += w; return true }
    if (items == itemLimit) return false
    itemHashes(i) = h
    itemCounts(i) = w
    items += 1
    true
  }

  /** The item slot that holds hash `h`, or the empty slot where it goes. */
  private def itemSlotOf(h: Long): Int = {
    val mask = itemCounts.length - 1
    var i = (h ^ (h >>> 32)).toInt & mask
    while (itemCounts(i) != 0 && itemHashes(i) != h) i = (i + 1) & mask
    i
  }

  private def rehashItems(cap: Int): Unit = {
    val (oldHashes, oldCounts) = (itemHashes, itemCounts)
    itemHashes = new Array[Long](cap)
    itemCounts = new Array[Long](cap)
    foreachItem(oldHashes, oldCounts) { (h, c) =>
      val i = itemSlotOf(h)
      itemHashes(i) = h
      itemCounts(i) = c
    }
  }

  /** Leaves item mode: adds each counted item to its depth counters of a
    * new dense table. A no-op once dense. */
  private def densify(): Unit =
    if (table == null) {
      table = new Array[Long](depth * width)
      val (hs, cs) = (itemHashes, itemCounts)
      itemHashes = null
      itemCounts = null
      items = 0
      foreachItem(hs, cs)(add)
    }
}

object CmsSketch extends SketchFormat[CmsSketch] {
  val DefaultDepth = 5
  val DefaultWidth = 1024
  private val HeaderBytes = 1 + 4 + 4 + 8
  // partial-image tags
  private val DenseImage: Byte = 0
  private val ItemImage: Byte = 1
  private val MinCapacity = 16

  /** Calls `f(hash, count)` for each counted item of an item table. */
  private def foreachItem(hashes: Array[Long], counts: Array[Long])(f: (Long, Long) => Unit): Unit = {
    var s = 0
    while (s < counts.length) { if (counts(s) != 0) f(hashes(s), counts(s)); s += 1 }
  }

  def apply(depth: Int = DefaultDepth, width: Int = DefaultWidth): CmsSketch = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1, 32], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    new CmsSketch(depth, width, null, new Array[Long](MinCapacity), new Array[Long](MinCapacity), 0, 0L)
  }

  def deserialize(bytes: Array[Byte]): CmsSketch = readCanonical(ByteBuffer.wrap(bytes))

  private def readCanonical(buf: ByteBuffer): CmsSketch = {
    val version = buf.get()
    require(version == 1, s"unknown CmsSketch version $version")
    val depth = buf.getInt()
    val width = buf.getInt()
    val weight = buf.getLong()
    val table = new Array[Long](depth * width)
    buf.asLongBuffer().get(table)
    new CmsSketch(depth, width, table, null, null, 0, weight)
  }

  /** Item mode: [1][depth:4][width:4][weight:8][n:4] then n x [hash:8][count:8];
    * dense: [0] followed by the `serialize()` bytes. */
  override def partialImage(s: CmsSketch): Array[Byte] =
    if (s.table != null) {
      val buf = ByteBuffer.allocate(1 + HeaderBytes + s.depth * s.width * 8)
      buf.put(DenseImage)
      s.writeCanonical(buf)
      buf.array()
    } else {
      val buf = ByteBuffer.allocate(HeaderBytes + 4 + 16 * s.items) // the tag takes the version's byte
      buf.put(ItemImage).putInt(s.depth).putInt(s.width).putLong(s._streamWeight).putInt(s.items)
      foreachItem(s.itemHashes, s.itemCounts)((h, c) => buf.putLong(h).putLong(c))
      buf.array()
    }

  override def readPartialImage(bytes: Array[Byte]): CmsSketch = {
    val buf = ByteBuffer.wrap(bytes)
    val tag = buf.get()
    if (tag == DenseImage) readCanonical(buf)
    else {
      require(tag == ItemImage, s"unknown CmsSketch partial image tag $tag")
      val depth = buf.getInt()
      val width = buf.getInt()
      val weight = buf.getLong()
      val n = buf.getInt()
      // the smallest power of two of at least 2n slots: the n items fit
      // without a rehash
      val cap = math.max(MinCapacity, Integer.highestOneBit(math.max(2 * n - 1, 1)) << 1)
      val s = new CmsSketch(depth, width, null, new Array[Long](cap), new Array[Long](cap), 0, weight)
      for (_ <- 0 until n) s.add(buf.getLong(), buf.getLong())
      s
    }
  }
}

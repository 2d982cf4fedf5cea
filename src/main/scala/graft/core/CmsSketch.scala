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
  * lifecycle as the reference sketch
  * (`/root/reference/src/DataSketches/Quantiles/RelativeErrorQuantile.hs:479-503`).
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
  * Storage, in three modes that a sketch passes through in order:
  *  - items: while it has seen at most [[itemLimit]] distinct items
  *    (`sparseLimit / depth`: 64 at the default 5 x 1024) it counts by item
  *    hash in a small open-addressing table, one probe per update;
  *  - sparse cells: the next new item spreads the counted items into an
  *    open-addressing table of set cells (cell -> count), which holds them
  *    all, and updates go to the depth cells of their item;
  *  - dense: once more than 1/16 of the cells are set ([[sparseLimit]]:
  *    320 at 5 x 1024) the cells move to the depth x width array.
  * A group of a many-group aggregate typically holds a few dozen items, so
  * its buffer is a few hundred bytes instead of 40 KB. Counters are linear,
  * so counting an item's updates before spreading them sets the same cells
  * to the same counts. Every reader of cells (estimates, merges,
  * `rowsConserved`, `serialize()` and the partial image) spreads first, and
  * the mode never shows in the bytes: `serialize()` writes the dense v1
  * image in every mode, so equal streams serialize byte-identically
  * whatever path built them. Only the partial image
  * (`CmsSketch.partialImage`, an aggregate's own shuffle and spill
  * buffers) writes (cell, count) pairs while the sketch is sparse.
  */
final class CmsSketch private (
    val depth: Int,
    val width: Int,
    private var table: Array[Long], // dense: row-major depth x width; null while sparse
    private var cells: Array[Int],  // sparse: cell index + 1 per slot, 0 = empty; null once dense
    private var counts: Array[Long], // sparse: the count of each slot's cell
    private var used: Int,           // sparse: occupied slots
    private var itemHashes: Array[Long], // items: each slot's item hash; null once spread
    private var itemCounts: Array[Long], // items: each slot's count, 0 = empty
    private var items: Int,              // items: occupied slots
    private var _streamWeight: Long
) extends Mergeable[CmsSketch] with Serializable {
  import CmsSketch._

  def streamWeight: Long = _streamWeight

  /** Cells a sparse sketch holds before it switches to the dense table. */
  def sparseLimit: Int = depth * width / 16

  /** Distinct items counted by hash before they spread into cells; they
    * then set at most [[sparseLimit]] cells, so the cell table stays sparse. */
  val itemLimit: Int = sparseLimit / depth

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
    if (itemCounts != null && countItem(itemHash, weight)) return
    var r = 0
    while (r < depth) {
      add(r * width + bucket(r, itemHash), weight)
      r += 1
    }
  }

  /** Point estimate: min over rows — never below the true count. */
  def estimate(item: String): Long =
    estimateHash(ThetaSketch.hashBytes(item.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  def estimateHash(itemHash: Long): Long = {
    spread()
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = counter(r * width + bucket(r, itemHash))
      if (c < min) min = c
      r += 1
    }
    if (min == Long.MaxValue) 0L else min
  }

  /** Conservation invariant: every row's counters sum to streamWeight. */
  def rowsConserved: Boolean = {
    spread()
    val sums = new Array[Long](depth)
    if (table != null) {
      var i = 0
      while (i < table.length) { sums(i / width) += table(i); i += 1 }
    } else {
      var i = 0
      while (i < cells.length) {
        if (cells(i) != 0) sums((cells(i) - 1) / width) += counts(i)
        i += 1
      }
    }
    sums.forall(_ == _streamWeight)
  }

  /** The a-priori per-row error scale eps*W = e/width * W (the bound the
    * estimate beats with probability 1 - e^-depth). */
  def errorScale: Double = math.E / width * _streamWeight

  /** Counter-wise add (linearity); same-config required. */
  def merge(other: CmsSketch): CmsSketch = {
    require(other.depth == depth && other.width == width,
      s"cannot merge CmsSketch ${depth}x$width with ${other.depth}x${other.width}")
    spread()
    other.spread()
    if (other.table != null) {
      if (table == null) densify()
      var i = 0
      while (i < table.length) { table(i) += other.table(i); i += 1 }
    } else {
      if (table == null) reserve(math.min(used + other.used, sparseLimit))
      val oc = other.cells
      var i = 0
      while (i < oc.length) {
        if (oc(i) != 0) add(oc(i) - 1, other.counts(i))
        i += 1
      }
    }
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
    spread()
    buf.put(1.toByte).putInt(depth).putInt(width).putLong(_streamWeight)
    if (table != null) buf.asLongBuffer().put(table)
    else {
      // the buffer is zeroed: write the set cells at their dense offsets
      val base = buf.position()
      var i = 0
      while (i < cells.length) {
        if (cells(i) != 0) buf.putLong(base + (cells(i) - 1) * 8, counts(i))
        i += 1
      }
    }
  }

  private def counter(cell: Int): Long =
    if (table != null) table(cell)
    else {
      val i = slotOf(cell)
      if (cells(i) == 0) 0L else counts(i)
    }

  /** Adds `w` to `cell`; a sparse sketch that would set more than
    * [[sparseLimit]] cells switches to the dense table first. */
  private def add(cell: Int, w: Long): Unit = {
    if (table == null) {
      if (2 * used >= cells.length && used < sparseLimit) rehash(2 * cells.length)
      val i = slotOf(cell)
      if (cells(i) != 0) { counts(i) += w; return }
      if (used < sparseLimit) {
        cells(i) = cell + 1
        counts(i) = w
        used += 1
        return
      }
      densify()
    }
    table(cell) += w
  }

  /** Item mode: adds `w` to the count of the item hashed `h`. A new item
    * past [[itemLimit]] spreads the table into cells and returns false: the
    * caller then adds it to its cells. */
  private def countItem(h: Long, w: Long): Boolean = {
    if (2 * items >= itemCounts.length && items < itemLimit) rehashItems(2 * itemCounts.length)
    val i = itemSlotOf(h)
    if (itemCounts(i) != 0) { itemCounts(i) += w; return true }
    if (items < itemLimit) {
      itemHashes(i) = h
      itemCounts(i) = w
      items += 1
      return true
    }
    spread()
    false
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
    var j = 0
    while (j < oldCounts.length) {
      if (oldCounts(j) != 0) {
        val i = itemSlotOf(oldHashes(j))
        itemHashes(i) = oldHashes(j)
        itemCounts(i) = oldCounts(j)
      }
      j += 1
    }
  }

  /** Leaves item mode: adds each counted item to its depth cells. A no-op
    * once spread. */
  private def spread(): Unit =
    if (itemCounts != null) {
      val (hs, cs) = (itemHashes, itemCounts)
      itemHashes = null
      itemCounts = null
      val cap = capacityFor(math.min(items * depth, sparseLimit))
      cells = new Array[Int](cap)
      counts = new Array[Long](cap)
      var s = 0
      while (s < cs.length) {
        if (cs(s) != 0) {
          var r = 0
          while (r < depth) { add(r * width + bucket(r, hs(s)), cs(s)); r += 1 }
        }
        s += 1
      }
    }

  /** The sparse slot that holds `cell`, or the empty slot where it goes. */
  private def slotOf(cell: Int): Int = {
    val key = cell + 1
    val mask = cells.length - 1
    var i = slot(cell) & mask
    while (cells(i) != 0 && cells(i) != key) i = (i + 1) & mask
    i
  }

  /** Grows the sparse table, before a bulk insert, to hold `n` cells at a
    * load of at most one half. */
  private def reserve(n: Int): Unit = {
    val cap = capacityFor(n)
    if (cap > cells.length) rehash(cap)
  }

  private def rehash(cap: Int): Unit = {
    val (oldCells, oldCounts) = (cells, counts)
    cells = new Array[Int](cap)
    counts = new Array[Long](cap)
    var j = 0
    while (j < oldCells.length) {
      if (oldCells(j) != 0) {
        val i = slotOf(oldCells(j) - 1)
        cells(i) = oldCells(j)
        counts(i) = oldCounts(j)
      }
      j += 1
    }
  }

  private def densify(): Unit = {
    table = new Array[Long](depth * width)
    var i = 0
    while (i < cells.length) {
      if (cells(i) != 0) table(cells(i) - 1) = counts(i)
      i += 1
    }
    cells = null
    counts = null
  }
}

object CmsSketch extends SketchFormat[CmsSketch] {
  val DefaultDepth = 5
  val DefaultWidth = 1024
  private val HeaderBytes = 1 + 4 + 4 + 8
  // partial-image tags
  private val DenseImage: Byte = 0
  private val SparseImage: Byte = 1
  private val MinCapacity = 16

  def apply(depth: Int = DefaultDepth, width: Int = DefaultWidth): CmsSketch = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1, 32], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    new CmsSketch(depth, width, null, null, null, 0,
      new Array[Long](MinCapacity), new Array[Long](MinCapacity), 0, 0L)
  }

  private def sparse(depth: Int, width: Int, expectedCells: Int, weight: Long): CmsSketch = {
    val cap = capacityFor(expectedCells)
    new CmsSketch(depth, width, null, new Array[Int](cap), new Array[Long](cap), 0, null, null, 0, weight)
  }

  /** Smallest power-of-two slot count that holds `n` cells at load <= 1/2. */
  private def capacityFor(n: Int): Int =
    math.max(MinCapacity, Integer.highestOneBit(math.max(2 * n - 1, 1)) << 1)

  /** Slot hash of a cell index: Fibonacci multiply, then fold the high
    * bits down so a power-of-two mask sees all of them. */
  @inline private def slot(cell: Int): Int = {
    val h = cell * 0x9e3779b9
    h ^ (h >>> 16)
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
    new CmsSketch(depth, width, table, null, null, 0, null, null, 0, weight)
  }

  /** Sparse: [1][depth:4][width:4][weight:8][n:4] then n x [cell:4][count:8];
    * dense: [0] followed by the `serialize()` bytes. */
  override def partialImage(s: CmsSketch): Array[Byte] = {
    s.spread()
    if (s.table != null) {
      val buf = ByteBuffer.allocate(1 + HeaderBytes + s.depth * s.width * 8)
      buf.put(DenseImage)
      s.writeCanonical(buf)
      buf.array()
    } else {
      val buf = ByteBuffer.allocate(1 + 4 + 4 + 8 + 4 + 12 * s.used)
      buf.put(SparseImage).putInt(s.depth).putInt(s.width).putLong(s._streamWeight).putInt(s.used)
      var i = 0
      while (i < s.cells.length) {
        if (s.cells(i) != 0) buf.putInt(s.cells(i) - 1).putLong(s.counts(i))
        i += 1
      }
      buf.array()
    }
  }

  override def readPartialImage(bytes: Array[Byte]): CmsSketch = {
    val buf = ByteBuffer.wrap(bytes)
    val tag = buf.get()
    if (tag == DenseImage) readCanonical(buf)
    else {
      require(tag == SparseImage, s"unknown CmsSketch partial image tag $tag")
      val depth = buf.getInt()
      val width = buf.getInt()
      val weight = buf.getLong()
      val n = buf.getInt()
      val s = sparse(depth, width, n, weight)
      var i = 0
      while (i < n) {
        s.add(buf.getInt(), buf.getLong())
        i += 1
      }
      s
    }
  }
}

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
  */
final class CmsSketch private (
    val depth: Int,
    val width: Int,
    private val table: Array[Long], // row-major depth x width
    private var _streamWeight: Long
) extends Mergeable[CmsSketch] with Serializable {

  def streamWeight: Long = _streamWeight

  /** Per-row seeds: splitmix64 of the row index — deterministic and
    * identical across JVMs, so sketches built anywhere merge. */
  @inline private def bucket(row: Int, itemHash: Long): Int = {
    // one extra mix round keyed by row (Kirsch–Mitzenmacher-style double
    // hashing over a single 64-bit item hash)
    var z = itemHash + (row + 1) * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    ((z & Long.MaxValue) % width).toInt
  }

  def update(item: String): Unit = update(item, 1L)

  def update(item: String, weight: Long): Unit =
    updateHash(ThetaSketch.hashBytes(item.getBytes(java.nio.charset.StandardCharsets.UTF_8)), weight)

  def updateHash(itemHash: Long, weight: Long): Unit = {
    require(weight > 0, s"weight must be positive, got $weight")
    _streamWeight += weight
    var r = 0
    while (r < depth) {
      table(r * width + bucket(r, itemHash)) += weight
      r += 1
    }
  }

  /** Point estimate: min over rows — never below the true count. */
  def estimate(item: String): Long =
    estimateHash(ThetaSketch.hashBytes(item.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  def estimateHash(itemHash: Long): Long = {
    var min = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = table(r * width + bucket(r, itemHash))
      if (c < min) min = c
      r += 1
    }
    if (min == Long.MaxValue) 0L else min
  }

  /** Conservation invariant: every row's counters sum to streamWeight. */
  def rowsConserved: Boolean = {
    var r = 0
    while (r < depth) {
      var s = 0L
      var c = 0
      while (c < width) { s += table(r * width + c); c += 1 }
      if (s != _streamWeight) return false
      r += 1
    }
    true
  }

  /** The a-priori per-row error scale eps*W = e/width * W (the bound the
    * estimate beats with probability 1 - e^-depth). */
  def errorScale: Double = math.E / width * _streamWeight

  /** Counter-wise add (linearity); same-config required. */
  def merge(other: CmsSketch): CmsSketch = {
    require(other.depth == depth && other.width == width,
      s"cannot merge CmsSketch ${depth}x$width with ${other.depth}x${other.width}")
    var i = 0
    while (i < table.length) { table(i) += other.table(i); i += 1 }
    _streamWeight += other._streamWeight
    this
  }

  /** Big-endian [version:1][depth:4][width:4][weight:8][table:8*depth*width]. */
  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate(CmsSketch.HeaderBytes + table.length * 8)
    buf.put(1.toByte).putInt(depth).putInt(width).putLong(_streamWeight)
    buf.asLongBuffer().put(table)
    buf.array()
  }
}

object CmsSketch extends SketchFormat[CmsSketch] {
  val DefaultDepth = 5
  val DefaultWidth = 1024
  private val HeaderBytes = 1 + 4 + 4 + 8

  def apply(depth: Int = DefaultDepth, width: Int = DefaultWidth): CmsSketch = {
    require(depth >= 1 && depth <= 32, s"depth must be in [1, 32], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    new CmsSketch(depth, width, new Array[Long](depth * width), 0L)
  }

  def deserialize(bytes: Array[Byte]): CmsSketch = {
    val buf = ByteBuffer.wrap(bytes)
    val version = buf.get()
    require(version == 1, s"unknown CmsSketch version $version")
    val depth = buf.getInt()
    val width = buf.getInt()
    val weight = buf.getLong()
    val table = new Array[Long](depth * width)
    buf.asLongBuffer().get(table)
    new CmsSketch(depth, width, table, weight)
  }
}

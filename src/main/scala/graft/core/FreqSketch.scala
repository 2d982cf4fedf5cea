package graft.core

import java.io.{ByteArrayInputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** Frequent-items (heavy-hitters) sketch — the Misra–Gries family member of
  * the mergeable-sketch layer (REQ/KLL quantiles, HLL/Theta cardinality,
  * this for frequency). Misra & Gries 1982, with the median-purge variant
  * and the per-item deterministic error bookkeeping described publicly for
  * the Apache DataSketches frequent-items sketch (Anderson et al.,
  * "A High-Performance Algorithm for Identifying Frequent Items in Data
  * Streams", IMC'17). Corpus use case: top tokens / domains / templates
  * over a web-scale table with map-side partial sketches of bounded size —
  * the shuffle carries one ~maxMapSize-entry sketch per partition, never a
  * token-level aggregation.
  *
  * Deterministic guarantees (no randomness anywhere):
  *  - `lowerBound(x) <= trueCount(x) <= upperBound(x)` always, where
  *    `upperBound - lowerBound = offset` (the cumulative purge depth);
  *  - NO FALSE NEGATIVES above the error: any item with
  *    `trueCount(x) > maxError` is guaranteed present in the map;
  *  - `maxError <= 2 * streamWeight / maxMapSize` a-priori: a purge of
  *    depth m removes >= (maxMapSize+1)/2 * m weight (every entry at or
  *    above the median loses m), so the purge depths sum to at most
  *    2W/(maxMapSize+1) — the classic MG argument.
  *
  * Merge is the aggregator combine step: counter-wise add + offset add,
  * then one purge if over capacity; all three guarantees survive merge
  * (errors add, counts add — FreqSketchSpec pins this on partitioned
  * streams). Same zero/insert/merge/query lifecycle as the reference's
  * sketch (`/root/reference/src/DataSketches/Quantiles/RelativeErrorQuantile.hs:479-503`
  * insert / merge discipline), applied to the frequency domain.
  */
final class FreqSketch private (
    val maxMapSize: Int,
    private val counts: mutable.HashMap[String, Long],
    private var _offset: Long,
    private var _streamWeight: Long
) extends Mergeable[FreqSketch] with Serializable {

  /** Cumulative purge depth: the deterministic +/- error of every estimate. */
  def maxError: Long = _offset

  /** Total weight of the stream(s) this sketch has absorbed. */
  def streamWeight: Long = _streamWeight

  /** Number of items currently tracked (<= maxMapSize). */
  def retainedItems: Int = counts.size

  def update(item: String): Unit = update(item, 1L)

  def update(item: String, weight: Long): Unit = {
    require(weight > 0, s"weight must be positive, got $weight")
    _streamWeight += weight
    counts.updateWith(item) {
      case Some(c) => Some(c + weight)
      case None    => Some(weight)
    }
    if (counts.size > maxMapSize) purge()
  }

  /** Subtract the median surviving count from every counter and drop the
    * non-positive ones; the median joins the global offset. Removes at
    * least half the entries, so update stays amortized O(1). */
  private def purge(): Unit = {
    val vals = counts.values.toArray
    java.util.Arrays.sort(vals)
    val median = vals(vals.length / 2)
    counts.filterInPlace { case (_, c) => c > median }
    counts.mapValuesInPlace { case (_, c) => c - median }
    _offset += median
  }

  /** Best estimate of the item's true count (the upper bound: tracked
    * count restored by everything purges could have taken). 0 if untracked
    * and the stream is exact so far. */
  def estimate(item: String): Long =
    counts.get(item).map(_ + _offset).getOrElse(0L)

  /** Guaranteed floor: the item occurred at least this often. */
  def lowerBound(item: String): Long = counts.getOrElse(item, 0L)

  /** Guaranteed ceiling: the item occurred at most this often. */
  def upperBound(item: String): Long =
    counts.get(item).map(_ + _offset).getOrElse(_offset)

  /** Whether the item survives in the map (always true when
    * trueCount > maxError — the no-false-negative guarantee). */
  def contains(item: String): Boolean = counts.contains(item)

  /** Top-k tracked items by estimate, descending; ties broken by item so
    * the output is deterministic across JVMs and merge orders of equal
    * multisets. */
  def topK(k: Int): Array[FreqItem] =
    counts.toArray
      .sortBy { case (item, c) => (-c, item) }
      .take(k)
      .map { case (item, c) => FreqItem(item, c + _offset, c, c + _offset) }

  /** Counter-wise merge; deterministic bounds survive (errors add). */
  def merge(other: FreqSketch): FreqSketch = {
    require(other.maxMapSize == maxMapSize,
      s"cannot merge FreqSketch maxMapSize $maxMapSize with ${other.maxMapSize}")
    other.counts.foreach { case (item, c) =>
      counts.updateWith(item) {
        case Some(mine) => Some(mine + c)
        case None       => Some(c)
      }
    }
    _offset += other._offset
    _streamWeight += other._streamWeight
    if (counts.size > maxMapSize) purge()
    this
  }

  /** Big-endian [version:1 = 2][maxMapSize:4][offset:8][weight:8][n:4]
    * then n x [itemBytes:4][item UTF-8][count:8], items in sorted order. */
  def serialize(): Array[Byte] = {
    // deterministic order so equal sketches serialize byte-identically.
    // Items are length-prefixed raw UTF-8, NOT writeUTF: a whitespace-split
    // web corpus contains "tokens" over 64 KiB (minified JS, base64 blobs)
    // and writeUTF throws UTFDataFormatException at 65535 bytes — crashing
    // the aggregate at shuffle-serialize time.
    val entries = counts.toArray.sortBy(_._1)
    val items = entries.map(_._1.getBytes(StandardCharsets.UTF_8))
    var size = 1 + 4 + 8 + 8 + 4 + entries.length * (4 + 8)
    items.foreach(b => size += b.length)
    val buf = ByteBuffer.allocate(size)
    buf.put(2.toByte).putInt(maxMapSize).putLong(_offset).putLong(_streamWeight).putInt(entries.length)
    var i = 0
    while (i < entries.length) {
      buf.putInt(items(i).length).put(items(i)).putLong(entries(i)._2)
      i += 1
    }
    buf.array()
  }
}

/** One frequent-item row: estimate with its deterministic bounds. */
final case class FreqItem(item: String, est: Long, lb: Long, ub: Long)

object FreqSketch extends SketchFormat[FreqSketch] {
  val DefaultMaxMapSize = 256

  def apply(maxMapSize: Int = DefaultMaxMapSize): FreqSketch = {
    require(maxMapSize >= 2, s"maxMapSize must be >= 2, got $maxMapSize")
    new FreqSketch(maxMapSize, mutable.HashMap.empty, 0L, 0L)
  }

  def deserialize(bytes: Array[Byte]): FreqSketch = {
    val version = bytes(0)
    require(version == 1 || version == 2, s"unknown FreqSketch version $version")
    if (version == 1) return readV1(new DataInputStream(new ByteArrayInputStream(bytes, 1, bytes.length - 1)))
    val buf = ByteBuffer.wrap(bytes, 1, bytes.length - 1)
    val maxMapSize = buf.getInt()
    val offset = buf.getLong()
    val weight = buf.getLong()
    val n = buf.getInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = buf.getInt()
      val item = new String(bytes, buf.position(), len, StandardCharsets.UTF_8)
      buf.position(buf.position() + len)
      m(item) = buf.getLong()
      i += 1
    }
    new FreqSketch(maxMapSize, m, offset, weight)
  }

  /** v1: the v2 layout with items written by `writeUTF` (no longer written;
    * stored v1 sketches still read). */
  private def readV1(in: DataInputStream): FreqSketch = {
    val maxMapSize = in.readInt()
    val offset = in.readLong()
    val weight = in.readLong()
    val n = in.readInt()
    val m = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      m(in.readUTF()) = in.readLong()
      i += 1
    }
    new FreqSketch(maxMapSize, m, offset, weight)
  }
}

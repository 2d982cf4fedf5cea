package graft.spark

import graft.core._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst aggregate expressions carrying mergeable sketch state — the
  * Spark realization of the reference's zero/insert/merge/query lifecycle
  * (SURVEY.md §2.3 "the reference IS a partial+final aggregation kernel").
  *
  * All of them run under `ObjectHashAggregateExec`: the buffer lives as a
  * JVM object during partial aggregation on executors (reference `insert`,
  * `RelativeErrorQuantile.hs:479-503`), is serialized to binary rows only at
  * the shuffle boundary, and merged on the reduce side (reference `merge`,
  * `RelativeErrorQuantile.hs:428-476`). `eval` emits the serialized sketch
  * (BinaryType) so results can be stored, re-read, and re-merged across
  * jobs — the sketch-column workflow the north rule's metrics table needs.
  *
  * `merge`, `eval` and the shuffle serde are defined here once, over the
  * family's [[Mergeable]] sketch and its [[SketchFormat]]. A build aggregate
  * adds its config, its empty buffer and its own per-row `update`, kept in
  * each class so the per-row call stays monomorphic.
  *
  * Cost model. `ObjectHashAggregateExec` keeps one buffer per group in a
  * hash map only up to `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (128) groups per task; above that it falls back to sort-based
  * aggregation, which creates a fresh buffer for every group it meets and
  * serializes and deserializes every partial buffer again. At thousands of
  * groups `createAggregationBuffer` and `deserialize` therefore run about
  * once per input group per task, so both must cost O(retained), not
  * O(capacity). Theta and CMS are the cases that matter: `ThetaSketch`
  * grows its hash buffer with what it holds instead of allocating 2 x 4096
  * hashes per buffer, and the fixed 5 x 1024 CMS table crosses serde as one
  * bulk copy. Every sketch moves its arrays through bulk `ByteBuffer` or
  * `System.arraycopy` copies, never element by element through a stream.
  */
abstract class BinarySketchAgg[S <: Mergeable[S]](format: SketchFormat[S])
    extends TypedImperativeAggregate[S] with Serializable { // ships `format` with the plan
  def child: Expression
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  // A null buffer exists only under SketchMergeAgg (its empty-group policy);
  // build aggregates always start from a real sketch and never take it.
  override def merge(buf: S, other: S): S =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: S): Any = if (buf == null) null else buf.serialize()
  override def serialize(buf: S): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf.serialize()
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null.asInstanceOf[S] else format.deserialize(bytes)
}

/** Re-merge a column of stored sketches of one family: `req_merge`,
  * `theta_union`, `hll_union`, `freq_merge`, `cms_merge`, `bloom_merge` and
  * `cbloom_merge` are this aggregate over their family's [[SketchFormat]].
  *
  * Empty-group policy. The buffer starts as null and stays null until a
  * non-null input arrives; a null partial shuffles as zero bytes, zero
  * bytes read back as null, and an all-null or empty group evaluates to
  * SQL NULL. There is no placeholder sketch, because a placeholder carries
  * a config of its own: a later merge with the real sketches then either
  * fails their same-config check (HLL lgK, REQ accuracy, filter geometry)
  * or silently takes the placeholder's config (Theta nominal entries). So
  * the result does not depend on how many empty partitions the input has,
  * and a stored NULL re-merges with real sketches. */
case class SketchMergeAgg[S <: Mergeable[S]](
    child: Expression,
    name: String,
    format: SketchFormat[S],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[S](format) {

  override def prettyName: String = name
  override def nullable: Boolean = true
  override def createAggregationBuffer(): S = null.asInstanceOf[S]

  override def update(buf: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buf else merge(buf, format.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg[S] = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg[S] = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg[S] = copy(child = c.head)
}

/** `req_sketch(col[, k[, hra]])` — REQ quantile sketch over a double column. */
case class ReqSketchAgg(
    child: Expression,
    k: Int = ReqSketch.DefaultK,
    hra: Boolean = true,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[ReqSketch](ReqSketch) {

  override def prettyName: String = "req_sketch"

  override def createAggregationBuffer(): ReqSketch = ReqSketch(k, hra)

  override def update(buf: ReqSketch, input: InternalRow): ReqSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ReqSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReqSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ReqSketchAgg = copy(child = c.head)
}

/** `kll_sketch(col[, k])` — KLL quantile sketch (uniform eps) over doubles. */
case class KllSketchAgg(
    child: Expression,
    k: Int = KllSketch.DefaultK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[KllSketch](KllSketch) {

  override def prettyName: String = "kll_sketch"
  override def createAggregationBuffer(): KllSketch = KllSketch(k)

  override def update(buf: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllSketchAgg = copy(child = c.head)
}

private[spark] object SketchInput {
  /** Feed an arbitrary supported input value into a hash-based sketch. */
  def hashOf(v: Any): Long = v match {
    case l: Long        => ThetaSketch.hashLong(l)
    case i: Int         => ThetaSketch.hashLong(i.toLong)
    case s: UTF8String  => hashUtf8(s)
    case b: Array[Byte] => ThetaSketch.hashBytes(b)
    case d: Double      => ThetaSketch.hashLong(java.lang.Double.doubleToLongBits(d + 0.0))
    case f: Float       => ThetaSketch.hashLong(java.lang.Double.doubleToLongBits(f.toDouble + 0.0))
    case s: Short       => ThetaSketch.hashLong(s.toLong)
    case b: Byte        => ThetaSketch.hashLong(b.toLong)
    case other => throw new IllegalArgumentException(s"unsupported sketch input: ${other.getClass}")
  }

  /** `ThetaSketch.hashBytes` of the string's UTF-8 bytes, read in place. */
  def hashUtf8(s: UTF8String): Long = ThetaSketch.hashBytes(s.getBaseObject, s.getBaseOffset, s.numBytes)

}

/** `theta_sketch(col[, nominalEntries])` — Theta sketch for distinct counts
  * and set expressions. */
case class ThetaSketchAgg(
    child: Expression,
    nominalEntries: Int = ThetaSketch.DefaultNominalEntries,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[ThetaSketch](ThetaSketch) {

  override def prettyName: String = "theta_sketch"
  override def createAggregationBuffer(): ThetaSketch = ThetaSketch(nominalEntries)

  override def update(buf: ThetaSketch, input: InternalRow): ThetaSketch = {
    val v = child.eval(input)
    if (v != null) buf.updateHash(SketchInput.hashOf(v))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
}

/** `hll_sketch(col[, lgK])` — HyperLogLog distinct-count sketch. */
case class HllSketchAgg(
    child: Expression,
    lgK: Int = HllSketch.DefaultLgK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[HllSketch](HllSketch) {

  override def prettyName: String = "hll_sketch"
  override def createAggregationBuffer(): HllSketch = HllSketch(lgK)

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) buf.updateHash(SketchInput.hashOf(v))
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HllSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllSketchAgg = copy(child = c.head)
}

/** `freq_sketch(col[, maxMapSize])` — Misra–Gries frequent-items sketch
  * over a string column. Partial sketches are bounded at maxMapSize
  * entries, so a corpus-wide top-k costs one narrow sketch per partition
  * at the shuffle — never a token-level aggregation. */
case class FreqSketchAgg(
    child: Expression,
    maxMapSize: Int = FreqSketch.DefaultMaxMapSize,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[FreqSketch](FreqSketch) {

  override def prettyName: String = "freq_sketch"
  override def createAggregationBuffer(): FreqSketch = FreqSketch(maxMapSize)

  override def update(buf: FreqSketch, input: InternalRow): FreqSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FreqSketchAgg = copy(child = c.head)
}

/** `cms_sketch(col[, depth[, width]])` — Count-Min frequency sketch over a
  * string column. Linear (counters add), so any partial/merge schedule is
  * byte-identical to the single-pass sketch; the shuffle carries one
  * depth x width counter table per partition, never item rows. */
case class CmsSketchAgg(
    child: Expression,
    depth: Int = CmsSketch.DefaultDepth,
    width: Int = CmsSketch.DefaultWidth,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[CmsSketch](CmsSketch) {

  override def prettyName: String = "cms_sketch"
  override def createAggregationBuffer(): CmsSketch = CmsSketch(depth, width)

  override def update(buf: CmsSketch, input: InternalRow): CmsSketch = {
    val v = child.eval(input)
    if (v != null)
      buf.updateHash(SketchInput.hashUtf8(v.asInstanceOf[UTF8String]), 1L)
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsSketchAgg = copy(child = c.head)
}

/** `bloom_agg(longCol, expectedItems, fpp)` — mergeable Bloom membership
  * filter over 64-bit keys (content hashes). Partials OR together, so the
  * corpus-membership filter builds in one map-side-partial pass: the
  * shuffle carries one filter per partition, never the keys. */
case class BloomAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[BloomFilter](BloomFilter) {

  override def prettyName: String = "bloom_agg"
  override def createAggregationBuffer(): BloomFilter = BloomFilter(expectedItems, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomAgg = copy(child = c.head)
}

/** `cbloom_agg(longCol, expectedItems, fpp)` — mergeable COUNTING Bloom
  * membership filter (the deletable twin of `bloom_agg`). Partials combine
  * by cell-wise saturating add (linear, order-free), so the corpus filter
  * builds in one map-side-partial pass and a RETIREMENT filter over the
  * keys to delete builds the same way — `cbloom_subtract` then retires
  * them from the persisted filter without a corpus rebuild. */
case class CBloomAgg(
    child: Expression,
    numCells: Long,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[CountingBloomFilter](CountingBloomFilter) {

  override def prettyName: String = "cbloom_agg"
  override def createAggregationBuffer(): CountingBloomFilter =
    CountingBloomFilter.withConfig(numCells, numHashes)

  override def update(buf: CountingBloomFilter, input: InternalRow): CountingBloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CBloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CBloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CBloomAgg = copy(child = c.head)
}

object CBloomAgg {
  /** `(expectedItems, fpp)` sizing face — same optimal formulas as the
    * bitset filter. Geometry-explicit construction exists so a RETIREMENT
    * filter can be built with exactly the persisted filter's cell layout
    * ([[graft.operators.ExactDedup.retireFromCountingBloom]]). */
  def sized(child: Expression, expectedItems: Long, fpp: Double): CBloomAgg = {
    val m = BloomFilter.optimalNumBits(expectedItems, fpp)
    CBloomAgg(child, m, BloomFilter.optimalNumHashes(expectedItems, m))
  }
}


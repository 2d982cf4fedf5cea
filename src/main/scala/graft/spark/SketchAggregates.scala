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
abstract class BinarySketchAgg[S] extends TypedImperativeAggregate[S] {
  def child: Expression
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
}

/** `req_sketch(col[, k[, hra]])` — REQ quantile sketch over a double column. */
case class ReqSketchAgg(
    child: Expression,
    k: Int = ReqSketch.DefaultK,
    hra: Boolean = true,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[ReqSketch] {

  override def prettyName: String = "req_sketch"

  override def createAggregationBuffer(): ReqSketch = ReqSketch(k, hra)

  override def update(buf: ReqSketch, input: InternalRow): ReqSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: ReqSketch, other: ReqSketch): ReqSketch = buf.merge(other)
  override def eval(buf: ReqSketch): Any = buf.serialize()
  override def serialize(buf: ReqSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): ReqSketch = ReqSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ReqSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReqSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ReqSketchAgg = copy(child = c.head)
}

/** Re-merge stored REQ sketches: `req_merge(sketch_col)`. */
case class ReqMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[ReqSketch] {

  override def prettyName: String = "req_merge"
  override def createAggregationBuffer(): ReqSketch = null.asInstanceOf[ReqSketch]

  override def update(buf: ReqSketch, input: InternalRow): ReqSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = ReqSketch.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: ReqSketch, other: ReqSketch): ReqSketch =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: ReqSketch): Any =
    (if (buf == null) ReqSketch() else buf).serialize()
  override def serialize(buf: ReqSketch): Array[Byte] =
    (if (buf == null) ReqSketch() else buf).serialize()
  override def deserialize(bytes: Array[Byte]): ReqSketch = ReqSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ReqMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReqMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ReqMergeAgg = copy(child = c.head)
}

/** `kll_sketch(col[, k])` — KLL quantile sketch (uniform eps) over doubles. */
case class KllSketchAgg(
    child: Expression,
    k: Int = KllSketch.DefaultK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[KllSketch] {

  override def prettyName: String = "kll_sketch"
  override def createAggregationBuffer(): KllSketch = KllSketch(k)

  override def update(buf: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }
  override def merge(buf: KllSketch, other: KllSketch): KllSketch = buf.merge(other)
  override def eval(buf: KllSketch): Any = buf.serialize()
  override def serialize(buf: KllSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)

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
) extends BinarySketchAgg[ThetaSketch] {

  override def prettyName: String = "theta_sketch"
  override def createAggregationBuffer(): ThetaSketch = ThetaSketch(nominalEntries)

  override def update(buf: ThetaSketch, input: InternalRow): ThetaSketch = {
    val v = child.eval(input)
    if (v != null) buf.updateHash(SketchInput.hashOf(v))
    buf
  }
  override def merge(buf: ThetaSketch, other: ThetaSketch): ThetaSketch = buf.merge(other)
  override def eval(buf: ThetaSketch): Any = buf.serialize()
  override def serialize(buf: ThetaSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): ThetaSketch = ThetaSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
}

/** Union of stored theta sketches: `theta_union(sketch_col)`. */
case class ThetaUnionAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[ThetaSketch] {

  override def prettyName: String = "theta_union"
  override def createAggregationBuffer(): ThetaSketch = null.asInstanceOf[ThetaSketch]

  override def update(buf: ThetaSketch, input: InternalRow): ThetaSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = ThetaSketch.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: ThetaSketch, other: ThetaSketch): ThetaSketch =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: ThetaSketch): Any =
    (if (buf == null) ThetaSketch() else buf).serialize()
  override def serialize(buf: ThetaSketch): Array[Byte] =
    (if (buf == null) ThetaSketch() else buf).serialize()
  override def deserialize(bytes: Array[Byte]): ThetaSketch = ThetaSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ThetaUnionAgg = copy(child = c.head)
}

/** `hll_sketch(col[, lgK])` — HyperLogLog distinct-count sketch. */
case class HllSketchAgg(
    child: Expression,
    lgK: Int = HllSketch.DefaultLgK,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[HllSketch] {

  override def prettyName: String = "hll_sketch"
  override def createAggregationBuffer(): HllSketch = HllSketch(lgK)

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) buf.updateHash(SketchInput.hashOf(v))
    buf
  }
  override def merge(buf: HllSketch, other: HllSketch): HllSketch = buf.merge(other)
  override def eval(buf: HllSketch): Any = buf.serialize()
  override def serialize(buf: HllSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)

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
) extends BinarySketchAgg[FreqSketch] {

  override def prettyName: String = "freq_sketch"
  override def createAggregationBuffer(): FreqSketch = FreqSketch(maxMapSize)

  override def update(buf: FreqSketch, input: InternalRow): FreqSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[UTF8String].toString)
    buf
  }
  override def merge(buf: FreqSketch, other: FreqSketch): FreqSketch = buf.merge(other)
  override def eval(buf: FreqSketch): Any = buf.serialize()
  override def serialize(buf: FreqSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): FreqSketch = FreqSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FreqSketchAgg = copy(child = c.head)
}

/** Re-merge stored frequent-items sketches: `freq_merge(sketch_col)`. */
case class FreqMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[FreqSketch] {

  override def prettyName: String = "freq_merge"
  override def createAggregationBuffer(): FreqSketch = null.asInstanceOf[FreqSketch]

  override def update(buf: FreqSketch, input: InternalRow): FreqSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = FreqSketch.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: FreqSketch, other: FreqSketch): FreqSketch =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: FreqSketch): Any =
    (if (buf == null) FreqSketch() else buf).serialize()
  // empty-partition buffers shuffle as zero bytes — a default-capacity
  // placeholder sketch would poison the merge's same-maxMapSize require
  override def serialize(buf: FreqSketch): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf.serialize()
  override def deserialize(bytes: Array[Byte]): FreqSketch =
    if (bytes.isEmpty) null.asInstanceOf[FreqSketch] else FreqSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FreqMergeAgg = copy(child = c.head)
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
) extends BinarySketchAgg[CmsSketch] {

  override def prettyName: String = "cms_sketch"
  override def createAggregationBuffer(): CmsSketch = CmsSketch(depth, width)

  override def update(buf: CmsSketch, input: InternalRow): CmsSketch = {
    val v = child.eval(input)
    if (v != null)
      buf.updateHash(SketchInput.hashUtf8(v.asInstanceOf[UTF8String]), 1L)
    buf
  }
  override def merge(buf: CmsSketch, other: CmsSketch): CmsSketch = buf.merge(other)
  override def eval(buf: CmsSketch): Any = buf.serialize()
  override def serialize(buf: CmsSketch): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): CmsSketch = CmsSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsSketchAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsSketchAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsSketchAgg = copy(child = c.head)
}

/** Counter-wise union of stored CMS sketches: `cms_merge(sketch_col)` —
  * linearity makes this the exact sum of the inputs' streams. */
case class CmsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[CmsSketch] {

  override def prettyName: String = "cms_merge"
  // all-null/empty groups eval to NULL (no honest config to emit) — same
  // convention as BloomMergeAgg: a placeholder table would poison later
  // merges with its mismatched dims
  override def nullable: Boolean = true
  override def createAggregationBuffer(): CmsSketch = null.asInstanceOf[CmsSketch]

  override def update(buf: CmsSketch, input: InternalRow): CmsSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = CmsSketch.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: CmsSketch, other: CmsSketch): CmsSketch =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: CmsSketch): Any =
    if (buf == null) null else buf.serialize()
  override def serialize(buf: CmsSketch): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf.serialize()
  override def deserialize(bytes: Array[Byte]): CmsSketch =
    if (bytes.isEmpty) null.asInstanceOf[CmsSketch] else CmsSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsMergeAgg = copy(child = c.head)
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
) extends BinarySketchAgg[BloomFilter] {

  override def prettyName: String = "bloom_agg"
  override def createAggregationBuffer(): BloomFilter = BloomFilter(expectedItems, fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }
  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter = buf.merge(other)
  override def eval(buf: BloomFilter): Any = buf.serialize()
  override def serialize(buf: BloomFilter): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): BloomFilter = BloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomAgg = copy(child = c.head)
}

/** OR-union of stored Bloom filters: `bloom_merge(filter_col)` — how an
  * incremental pipeline appends each batch's survivors to the persisted
  * corpus-membership filter without rebuilding it. */
case class BloomMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[BloomFilter] {

  override def prettyName: String = "bloom_merge"
  // all-null/empty groups eval to NULL (no honest config to emit)
  override def nullable: Boolean = true
  override def createAggregationBuffer(): BloomFilter = null.asInstanceOf[BloomFilter]

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = BloomFilter.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: BloomFilter, other: BloomFilter): BloomFilter =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  // SQL-aggregate convention for an all-null/empty group: NULL, never a
  // placeholder — a persisted 64-bit placeholder filter would poison every
  // later bloom_merge/merge with its mismatched config
  override def eval(buf: BloomFilter): Any =
    if (buf == null) null else buf.serialize()
  // empty-partition buffers shuffle as zero bytes — a placeholder filter
  // would poison the merge's same-config require
  override def serialize(buf: BloomFilter): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf.serialize()
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    if (bytes.isEmpty) null.asInstanceOf[BloomFilter] else BloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomMergeAgg = copy(child = c.head)
}

/** Union of stored HLL sketches: `hll_union(sketch_col)`. */
case class HllUnionAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[HllSketch] {

  override def prettyName: String = "hll_union"
  override def createAggregationBuffer(): HllSketch = null.asInstanceOf[HllSketch]

  override def update(buf: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = HllSketch.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: HllSketch, other: HllSketch): HllSketch =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: HllSketch): Any =
    (if (buf == null) HllSketch() else buf).serialize()
  override def serialize(buf: HllSketch): Array[Byte] =
    (if (buf == null) HllSketch() else buf).serialize()
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllUnionAgg = copy(child = c.head)
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
) extends BinarySketchAgg[CountingBloomFilter] {

  override def prettyName: String = "cbloom_agg"
  override def createAggregationBuffer(): CountingBloomFilter =
    CountingBloomFilter.withConfig(numCells, numHashes)

  override def update(buf: CountingBloomFilter, input: InternalRow): CountingBloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }
  override def merge(buf: CountingBloomFilter, other: CountingBloomFilter): CountingBloomFilter =
    buf.merge(other)
  override def eval(buf: CountingBloomFilter): Any = buf.serialize()
  override def serialize(buf: CountingBloomFilter): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): CountingBloomFilter =
    CountingBloomFilter.deserialize(bytes)

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

/** Cell-wise-add union of stored counting filters: `cbloom_merge(col)` —
  * appends each increment's survivors to the persisted corpus filter.
  * NULL on all-null/empty groups (the `bloom_merge` convention: a
  * placeholder filter would poison later merges with a mismatched config). */
case class CBloomMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends BinarySketchAgg[CountingBloomFilter] {

  override def prettyName: String = "cbloom_merge"
  override def nullable: Boolean = true
  override def createAggregationBuffer(): CountingBloomFilter =
    null.asInstanceOf[CountingBloomFilter]

  override def update(buf: CountingBloomFilter, input: InternalRow): CountingBloomFilter = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val other = CountingBloomFilter.deserialize(v.asInstanceOf[Array[Byte]])
      if (buf == null) other else buf.merge(other)
    }
  }
  override def merge(buf: CountingBloomFilter, other: CountingBloomFilter): CountingBloomFilter =
    if (buf == null) other else if (other == null) buf else buf.merge(other)
  override def eval(buf: CountingBloomFilter): Any =
    if (buf == null) null else buf.serialize()
  override def serialize(buf: CountingBloomFilter): Array[Byte] =
    if (buf == null) Array.emptyByteArray else buf.serialize()
  override def deserialize(bytes: Array[Byte]): CountingBloomFilter =
    if (bytes.isEmpty) null.asInstanceOf[CountingBloomFilter] else CountingBloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CBloomMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CBloomMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CBloomMergeAgg = copy(child = c.head)
}

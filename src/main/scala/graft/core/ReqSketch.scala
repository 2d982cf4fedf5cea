package graft.core

import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer

/** Relative Error Quantile (REQ) sketch — single-pass, bounded-memory,
  * mergeable summary of a stream of doubles with relative rank error at one
  * chosen end of the rank domain.
  *
  * Algorithm: "Relative Error Streaming Quantiles" (arXiv:2004.01668), as
  * realized by Apache DataSketches and the reference port
  * (`/root/reference/data-sketches/src/DataSketches/Quantiles/RelativeErrorQuantile.hs`).
  * This is a from-scratch Scala implementation of the same algorithm, with
  * the reference's documented bugs fixed (SURVEY.md §8.1/8.2: merge max-value
  * comparison, multi-split CDF counts, PMF differencing — we implement the
  * specified Java semantics the reference itself targets).
  *
  * @param k          section-size parameter: even, 4 <= k <= 1024
  *                   (`RelativeErrorQuantile.hs:106`)
  * @param hra        true = HighRanksAreAccurate (relative error vanishes at
  *                   rank 1.0), false = LowRanksAreAccurate
  * @param seed       determinism seed for compaction coin flips — fixed per
  *                   pipeline so results are reproducible across runs and
  *                   parallelism levels (SURVEY.md §7 "Determinism")
  */
final class ReqSketch private (
    val k: Int,
    val hra: Boolean,
    val seed: Long,
    private var totalN0: Long,
    private var minValue0: Double,
    private var maxValue0: Double,
    private var sumValue0: Double,
    private var retainedItems0: Int,
    private var maxNominalCapacity0: Int,
    private val compactors: ArrayBuffer[ReqCompactor]
) extends Mergeable[ReqSketch] with Serializable {
  import ReqSketch._

  private var aux: ReqAuxiliary = null

  // ---- exact running aggregates (`Internal.hs:114-115`, `REQ:219-242`) ----
  def count: Long = totalN0
  def isEmpty: Boolean = totalN0 == 0
  def sum: Double = sumValue0
  def minimum: Double = minValue0
  def maximum: Double = maxValue0
  def retainedItemCount: Int = retainedItems0
  def numLevels: Int = compactors.length
  /** True iff answers are no longer exact (`REQ:379-380`). */
  def isEstimationMode: Boolean = numLevels > 1

  /** Insert one value; NaN is ignored (`REQ:479-503`). */
  def update(v: Double): Unit = {
    if (v.isNaN) return
    if (totalN0 == 0) { minValue0 = v; maxValue0 = v }
    else {
      if (v < minValue0) minValue0 = v
      if (v > maxValue0) maxValue0 = v
    }
    totalN0 += 1
    sumValue0 += v
    compactors(0).buffer.append(v)
    retainedItems0 += 1
    if (retainedItems0 >= maxNominalCapacity0) {
      compactors(0).buffer.sort()
      compress()
    }
    aux = null
  }

  /** Append a new top compactor (`REQ:397-405`). */
  private def grow(): Unit = {
    compactors += ReqCompactor(numLevels.toByte, hra, k, seed)
    maxNominalCapacity0 = computeMaxNominalSize()
  }

  private def computeMaxNominalSize(): Int = {
    var s = 0; var i = 0
    while (i < compactors.length) { s += compactors(i).nomCapacity; i += 1 }
    s
  }

  private def computeTotalRetainedItems(): Int = {
    var s = 0; var i = 0
    while (i < compactors.length) { s += compactors(i).buffer.count; i += 1 }
    s
  }

  /** Compact all over-full levels (`REQ:407-425`). */
  private def compress(): Unit = {
    var h = 0
    while (h < compactors.length) {
      val c = compactors(h)
      if (c.buffer.count >= c.nomCapacity) {
        if (h + 1 >= numLevels) grow()
        val promoted = c.compact()
        compactors(h + 1).buffer.mergeSortIn(promoted, promoted.length)
      }
      h += 1
    }
    maxNominalCapacity0 = computeMaxNominalSize()
    retainedItems0 = computeTotalRetainedItems()
    aux = null
  }

  /** Merge another sketch into this one (`REQ:428-476`). Requires equal
    * rank-accuracy mode. Fixes the reference's max-value bug (SURVEY.md §8.1):
    * extremes take the true min/max. */
  def merge(other: ReqSketch): ReqSketch = {
    require(other.hra == hra, "cannot merge sketches with different RankAccuracy")
    if (other.totalN0 == 0) return this
    if (totalN0 == 0) { minValue0 = other.minValue0; maxValue0 = other.maxValue0 }
    else {
      if (other.minValue0 < minValue0) minValue0 = other.minValue0
      if (other.maxValue0 > maxValue0) maxValue0 = other.maxValue0
    }
    totalN0 += other.totalN0
    sumValue0 += other.sumValue0
    while (numLevels < other.numLevels) grow()
    var h = 0
    while (h < other.numLevels) {
      compactors(h).merge(other.compactors(h))
      h += 1
    }
    maxNominalCapacity0 = computeMaxNominalSize()
    retainedItems0 = computeTotalRetainedItems()
    if (retainedItems0 >= maxNominalCapacity0) compress()
    assert(retainedItems0 < maxNominalCapacity0, "post-merge invariant violated")
    aux = null
    this
  }

  /** Weighted count of items ⋖ v across all levels (`REQ:227-239`). */
  def countWithCriterion(v: Double, inclusive: Boolean): Long = {
    var total = 0L
    var i = 0
    while (i < compactors.length) {
      val c = compactors(i)
      total += (1L << c.lgWeight) * c.buffer.countWithCriterion(v, inclusive)
      i += 1
    }
    total
  }

  /** Normalized rank of v under `<` (default) or `<=`; NaN when empty
    * (`REQ:319-332`). */
  def rank(v: Double, inclusive: Boolean = false): Double =
    if (isEmpty) Double.NaN
    else countWithCriterion(v, inclusive).toDouble / totalN0

  def ranks(vs: Seq[Double], inclusive: Boolean = false): Seq[Double] =
    vs.map(rank(_, inclusive))

  private def auxiliary(): ReqAuxiliary = {
    if (aux == null) aux = ReqAuxiliary.build(compactors, totalN0, retainedItems0)
    aux
  }

  /** Inverse rank query (`REQ:278-302`); requires 0 <= r <= 1. */
  def quantile(normRank: Double, inclusive: Boolean = false): Double = {
    if (isEmpty) return Double.NaN
    require(normRank >= 0.0 && normRank <= 1.0, s"normalized rank must be in [0,1], got $normRank")
    auxiliary().getQuantile(normRank, inclusive)
  }

  def quantiles(rs: Seq[Double], inclusive: Boolean = false): Seq[Double] =
    rs.map(quantile(_, inclusive))

  /** Validated per the reference (`REQ:136-143`): non-empty, finite, strictly
    * increasing. */
  private def validateSplits(splits: Seq[Double]): Unit = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.forall(s => !s.isNaN && !s.isInfinite), "splits must be finite")
    require(splits.sliding(2).forall(p => p.length < 2 || p(0) < p(1)), "splits must be strictly increasing and unique")
  }

  /** CDF at the given split points plus the final 1.0 bucket
    * (`REQ:175-196`); correct multi-split counts (Java semantics, not the
    * reference's §8.2 bug). Returns None when empty. */
  def cdf(splits: Seq[Double], inclusive: Boolean = false): Option[Seq[Double]] = {
    if (isEmpty) return None
    validateSplits(splits)
    val masses = splits.map(s => countWithCriterion(s, inclusive).toDouble) :+ totalN0.toDouble
    Some(masses.map(_ / totalN0))
  }

  /** PMF = adjacent differences of the CDF masses (`REQ:248-275`, Java
    * semantics per SURVEY.md §8.2). */
  def pmf(splits: Seq[Double], inclusive: Boolean = false): Option[Seq[Double]] =
    cdf(splits, inclusive).map { c =>
      c.head +: c.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
    }

  def rankLowerBound(r: Double, numStdDev: Int): Double =
    ReqBounds.rankLB(k, numLevels, r, numStdDev, hra, totalN0)

  def rankUpperBound(r: Double, numStdDev: Int): Double =
    ReqBounds.rankUB(k, numLevels, r, numStdDev, hra, totalN0)

  /** Serialize to a compact big-endian binary layout (SURVEY.md §2.2 #56):
    * header + per-level state, each level's items sorted ascending. */
  def serialize(): Array[Byte] = {
    var size = HeaderBytes
    compactors.foreach(c => size += LevelHeaderBytes + 8 * c.buffer.count)
    val buf = ByteBuffer.allocate(size)
    buf.put(SerVersion.toByte).putInt(k).put(bool(hra)).putLong(seed).putLong(totalN0)
      .putDouble(minValue0).putDouble(maxValue0).putDouble(sumValue0).putInt(compactors.length)
    compactors.foreach { c =>
      buf.put(c.lgWeight).putLong(c.state).putDouble(c.sectionSizeFlt).putInt(c.sectionSize)
        .putInt(c.numSections).put(bool(c.coin))
      c.buffer.sort()
      val (arr, start, n) = c.buffer.active
      buf.putInt(n)
      buf.asDoubleBuffer().put(arr, start, n)
      buf.position(buf.position() + 8 * n)
    }
    buf.array()
  }
}

object ReqSketch extends SketchFormat[ReqSketch] {
  val SerVersion = 1
  val DefaultK = 12
  val DefaultSeed = 0x5EEDC0DEL
  private val HeaderBytes = 1 + 4 + 1 + 8 + 8 + 8 + 8 + 8 + 4
  private val LevelHeaderBytes = 1 + 8 + 8 + 4 + 4 + 1 + 4

  private def bool(b: Boolean): Byte = if (b) 1 else 0

  def apply(k: Int = DefaultK, hra: Boolean = true, seed: Long = DefaultSeed): ReqSketch = {
    require(k >= 4 && k <= 1024 && k % 2 == 0, s"k must be even and in [4,1024], got $k")
    val s = new ReqSketch(k, hra, seed, 0L, Double.NaN, Double.NaN, 0.0, 0, 0,
      ArrayBuffer.empty[ReqCompactor])
    s.grow()
    s
  }

  def deserialize(bytes: Array[Byte]): ReqSketch = {
    val buf = ByteBuffer.wrap(bytes)
    val ver = buf.get()
    require(ver == SerVersion, s"unknown ReqSketch serialization version $ver")
    val k = buf.getInt()
    val hra = buf.get() != 0
    val seed = buf.getLong()
    val totalN = buf.getLong()
    val minV = buf.getDouble()
    val maxV = buf.getDouble()
    val sumV = buf.getDouble()
    val nLevels = buf.getInt()
    val comps = ArrayBuffer.empty[ReqCompactor]
    var h = 0
    while (h < nLevels) {
      val lgW = buf.get()
      val state = buf.getLong()
      val ssf = buf.getDouble()
      val ss = buf.getInt()
      val ns = buf.getInt()
      val coin = buf.get() != 0
      val n = buf.getInt()
      val items = new Array[Double](n)
      buf.asDoubleBuffer().get(items)
      buf.position(buf.position() + 8 * n)
      // rngState re-derived from (seed, lgWeight, state) — deterministic
      val rng = SplitMix64.mix(seed ^ (0x9E3779B97F4A7C15L * (lgW + 1)) ^ state)
      comps += ReqCompactor.restore(lgW, hra, seed, state, ssf, ss, ns, coin, items, rng)
      h += 1
    }
    val s = new ReqSketch(k, hra, seed, totalN, minV, maxV, sumV, 0, 0, comps)
    s.retainedItems0 = s.computeTotalRetainedItems()
    s.maxNominalCapacity0 = s.computeMaxNominalSize()
    s
  }
}

/** A-priori rank error bounds (`REQ:507-532` + `Constants.hs`), following the
  * empirically-tuned constants of Apache DataSketches REQ. Pure functions of
  * (k, levels, rank, hra, N). */
object ReqBounds {
  private val FixRseFactor = 0.084
  private val RelRseFactor = math.sqrt(0.0512 / ReqCompactor.InitNumberOfSections)

  def exactRank(k: Int, levels: Int, rank: Double, hra: Boolean, totalN: Long): Boolean = {
    val baseCap = k * ReqCompactor.InitNumberOfSections
    if (levels == 1 || totalN <= baseCap) true
    else {
      val thresh = baseCap.toDouble / totalN
      (hra && rank >= 1.0 - thresh) || (!hra && rank <= thresh)
    }
  }

  def rankLB(k: Int, levels: Int, rank: Double, numStdDev: Int, hra: Boolean, totalN: Long): Double = {
    if (exactRank(k, levels, rank, hra, totalN)) return rank
    val relative = RelRseFactor / k * (if (hra) 1.0 - rank else rank)
    val fixed = FixRseFactor / k
    val lbRel = rank - numStdDev * relative
    val lbFix = rank - numStdDev * fixed
    math.max(lbRel, lbFix)
  }

  def rankUB(k: Int, levels: Int, rank: Double, numStdDev: Int, hra: Boolean, totalN: Long): Double = {
    if (exactRank(k, levels, rank, hra, totalN)) return rank
    val relative = RelRseFactor / k * (if (hra) 1.0 - rank else rank)
    val fixed = FixRseFactor / k
    val ubRel = rank + numStdDev * relative
    val ubFix = rank + numStdDev * fixed
    math.min(ubRel, ubFix)
  }

  /** Signature-compatible with the reference's `relativeStandardError`
    * (`REQ:202-216`): returns the 1-sigma bound-adjusted rank at levels=2
    * (documented quirk, SURVEY.md §8.3). */
  def relativeStandardError(k: Int, rank: Double, hra: Boolean, totalN: Long): Double =
    rankUB(k, 2, rank, 1, hra, totalN)
}

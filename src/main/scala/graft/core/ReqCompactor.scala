package graft.core

/** One level of the REQ sketch.
  *
  * Algorithm per the reference compactor
  * (`/root/reference/data-sketches-core/.../Internal/Compactor.hs:37-238`),
  * which follows Apache DataSketches Java `ReqCompactor` and the paper
  * "Relative Error Streaming Quantiles" (arXiv:2004.01668), including the
  * documented paper deviation: adaptive section shrink by 1/sqrt(2) with
  * capacity doubling (`Compactor.hs:188-211`, notes at `Internal.hs:28-43`).
  *
  * Randomness: the coin alternates deterministically when `state` is odd
  * (`Compactor.hs:108-110`); otherwise it is drawn from a SplitMix64 stream
  * seeded from (sketch seed, lgWeight) — our extension for cross-run and
  * cross-parallelism reproducibility (SURVEY.md §7 "Determinism").
  */
final class ReqCompactor(
    val lgWeight: Byte,
    val hra: Boolean,
    private var state0: Long,
    private var sectionSizeFlt0: Double,
    private var sectionSize0: Int,
    private var numSections0: Int,
    private var coin0: Boolean,
    private var buf0: DoubleBuffer,
    private var rngState: Long
) {
  import ReqCompactor._

  def state: Long = state0
  def sectionSize: Int = sectionSize0
  def sectionSizeFlt: Double = sectionSizeFlt0
  def numSections: Int = numSections0
  def buffer: DoubleBuffer = buf0
  def coin: Boolean = coin0

  /** 2 * numSections * sectionSize (`Compactor.hs:138-142`). */
  def nomCapacity: Int = NomCapMult * numSections0 * sectionSize0

  private def nextRandBool(): Boolean = {
    rngState = SplitMix64.next(rngState)
    SplitMix64.mix(rngState) < 0L
  }

  /** Compact this level; returns the promoted (half-weight-doubled) items as
    * a sorted ascending array (`Compactor.hs:96-124`). */
  def compact(): Array[Double] = {
    buf0.sort()
    val secsToCompact = math.min(java.lang.Long.numberOfTrailingZeros(~state0) + 1, numSections0)
    val (start, end) = computeCompactionRange(secsToCompact)
    // coin: alternate deterministically when state odd, else pseudo-random
    coin0 = if ((state0 & 1L) == 1L) !coin0 else nextRandBool()
    val promote = buf0.getEvensOrOdds(start, end, coin0)
    // remove the compacted region: trimCount keeps the non-compacted side
    buf0.trimCount(buf0.count - (end - start))
    state0 += 1
    ensureEnoughSections()
    promote
  }

  /** Compaction range in logical indices [start, end)
    * (`Compactor.hs:214-230`): non-compacted prefix size =
    * nomCap/2 + (numSections - s) * sectionSize, parity-adjusted so the
    * compacted region has even length; HRA compacts the logical-low end,
    * LRA the logical-high end. */
  def computeCompactionRange(secsToCompact: Int): (Int, Int) = {
    val bufCount = buf0.count
    var nonCompact = nomCapacity / 2 + (numSections0 - secsToCompact) * sectionSize0
    if (((bufCount - nonCompact) & 1) == 1) nonCompact += 1
    if (hra) (0, bufCount - nonCompact) else (nonCompact, bufCount)
  }

  /** Adaptive resize (`Compactor.hs:188-211`): once state >= 2^(numSections-1),
    * shrink sectionSize by 1/sqrt(2) (nearest even, floored at MinK) and
    * double numSections; returns true if a resize happened. */
  def ensureEnoughSections(): Boolean = {
    val szf = sectionSizeFlt0 / Sqrt2
    val ne = nearestEven(szf)
    if (state0 >= (1L << (numSections0 - 1)) && sectionSize0 > MinK && ne >= MinK) {
      sectionSizeFlt0 = szf
      sectionSize0 = ne
      numSections0 <<= 1
      buf0.ensureCapacity(2 * nomCapacity)
      true
    } else false
  }

  /** Merge another compactor of the same lgWeight into this one
    * (`Compactor.hs:155-185`): OR the states, fixpoint ensureEnoughSections,
    * then sorted-merge the larger buffer into the smaller-into-bigger. */
  def merge(other: ReqCompactor): Unit = {
    require(other.lgWeight == lgWeight, "compactor lgWeight mismatch")
    state0 |= other.state0
    while (ensureEnoughSections()) {}
    buf0.sort()
    val ob = other.buf0
    ob.sort()
    if (ob.count > buf0.count) {
      // merge the smaller (this) into a sorted copy of the bigger (other)
      val bigger = ob.sortedCopy()
      bigger.mergeSortIn(buf0)
      buf0 = bigger
    } else {
      buf0.mergeSortIn(ob)
    }
  }
}

object ReqCompactor {
  val MinK = 4
  val InitNumberOfSections = 3
  val NomCapMult = 2
  val Sqrt2: Double = math.sqrt(2.0)

  /** Half-to-even rounding to the nearest even integer
    * (`Compactor.hs:233-238`; Haskell `round` is banker's rounding, hence
    * Math.rint — SURVEY.md §8.5; unit case nearestEven(-0.9) == 0). */
  def nearestEven(x: Double): Int = (Math.rint(x / 2.0) * 2.0).toInt

  def apply(lgWeight: Byte, hra: Boolean, k: Int, seed: Long): ReqCompactor = {
    val sectionSize = k
    val nomCap = NomCapMult * InitNumberOfSections * sectionSize
    new ReqCompactor(
      lgWeight, hra,
      state0 = 0L,
      sectionSizeFlt0 = sectionSize.toDouble,
      sectionSize0 = sectionSize,
      numSections0 = InitNumberOfSections,
      coin0 = false,
      buf0 = DoubleBuffer(2 * nomCap, nomCap, hra),
      rngState = SplitMix64.mix(seed ^ (0x9E3779B97F4A7C15L * (lgWeight + 1)))
    )
  }

  /** Rehydrate from serialized state. */
  def restore(lgWeight: Byte, hra: Boolean, state: Long,
              sectionSizeFlt: Double, sectionSize: Int, numSections: Int,
              coin: Boolean, items: Array[Double], rngState: Long): ReqCompactor = {
    val nomCap = NomCapMult * numSections * sectionSize
    val buf = DoubleBuffer(math.max(2 * nomCap, items.length), nomCap, hra)
    var i = 0
    while (i < items.length) { buf.append(items(i)); i += 1 }
    new ReqCompactor(lgWeight, hra, state, sectionSizeFlt, sectionSize,
      numSections, coin, buf, rngState)
  }
}

/** SplitMix64 PRNG (public-domain algorithm, Steele et al. "Fast Splittable
  * Pseudorandom Number Generators"). */
object SplitMix64 {
  @inline def next(state: Long): Long = state + 0x9E3779B97F4A7C15L
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

package graft.core

/** HyperLogLog sketch for per-group distinct counts (the HLL member of the
  * sketch family the reference README names,
  * `/root/reference/data-sketches/README.md:5`).
  *
  * Classic dense HLL (Flajolet et al. 2007) with linear-counting small-range
  * correction — RSE ≈ 1.04 / sqrt(2^lgK), validated by property tests at the
  * configured lgK, to the same error-bound discipline as the reference's
  * rank-bound tests. Merge = register-wise max (commutative, associative,
  * idempotent) — the aggregator combine step.
  *
  * Spark's built-in `approx_count_distinct` is HLL++ and is preferred where
  * its accuracy config suffices (SURVEY.md §2.4); this sketch exists for
  * (a) sketch *columns* that are stored, re-merged and post-aggregated
  * across jobs, and (b) lgK parity with reference-style configs.
  */
final class HllSketch private (val lgK: Int, private val registers: Array[Byte]) extends Mergeable[HllSketch] with Serializable {
  import HllSketch._

  private val m: Int = 1 << lgK

  def updateHash(h: Long): Unit = {
    val idx = (h >>> (64 - lgK)).toInt
    val w = h << lgK // remaining bits
    val rank = (java.lang.Long.numberOfLeadingZeros(w | (1L << (lgK - 1))) + 1).toByte
    if (rank > registers(idx)) registers(idx) = rank
  }

  def update(v: Long): Unit = updateHash(ThetaSketch.hashLong(v))
  def update(s: String): Unit = updateHash(ThetaSketch.hashBytes(s.getBytes("UTF-8")))

  def merge(other: HllSketch): HllSketch = {
    require(other.lgK == lgK, "cannot merge HLL sketches with different lgK")
    var i = 0
    while (i < m) {
      if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  def estimate: Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = registers(i)
      sum += 1.0 / (1L << r)
      if (r == 0) zeros += 1
      i += 1
    }
    val alpha = alphaM(m)
    val raw = alpha * m * m / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
    else raw
  }

  /** RSE = 1.04/sqrt(m); bounds at numStdDev sigmas. */
  def relativeStandardError: Double = 1.04 / math.sqrt(m.toDouble)
  def lowerBound(numStdDev: Int): Double = estimate / (1.0 + numStdDev * relativeStandardError)
  def upperBound(numStdDev: Int): Double = estimate * (1.0 + numStdDev * relativeStandardError)

  /** [version:1][lgK:1][registers:2^lgK]. */
  def serialize(): Array[Byte] = {
    val bytes = new Array[Byte](2 + m)
    bytes(0) = 1
    bytes(1) = lgK.toByte
    System.arraycopy(registers, 0, bytes, 2, m)
    bytes
  }
}

object HllSketch extends SketchFormat[HllSketch] {
  val DefaultLgK = 12

  def apply(lgK: Int = DefaultLgK): HllSketch = {
    require(lgK >= 4 && lgK <= 18, s"lgK must be in [4,18], got $lgK")
    new HllSketch(lgK, new Array[Byte](1 << lgK))
  }

  def deserialize(bytes: Array[Byte]): HllSketch = {
    require(bytes(0) == 1, "unknown HllSketch version")
    val lgK = bytes(1).toInt
    val regs = new Array[Byte](1 << lgK)
    System.arraycopy(bytes, 2, regs, 0, regs.length)
    new HllSketch(lgK, regs)
  }

  private def alphaM(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSH banding calibration: the S-curve `p(t) = 1 - (1 - t^r)^b` giving the
  * probability that a pair with MinHash similarity `t` collides in at least
  * one of `b` bands of `r` rows (Leskovec/Rajaraman/Ullman, MMDS §3.4.2).
  * This table IS how a banding config is chosen: the pipeline's 16×8 puts
  * the curve's midpoint at (1/16)^(1/8) ≈ 0.707 and per-pair recall at the
  * 0.9 verify threshold at 1 − (1 − 0.9^8)^16 ≈ 0.99988 — the analytic
  * backing for the BASELINE recall ≥ 0.99 target — while a 32×4 config
  * (midpoint ≈ 0.42) would triple candidate volume from mid-similarity
  * boilerplate and an 8×16 config (midpoint ≈ 0.84) would leak ~2% of
  * 0.9-pairs per probe.
  *
  * Determinism: powers are evaluated as explicit square chains (`x*x`
  * folds), never `pow` — IEEE-754 `*`/`-`/`/` are exactly specified, so the
  * same chain re-evaluated by any engine (the DuckDB oracle mirrors it CTE
  * by CTE) yields bit-identical doubles; configs are therefore restricted
  * to power-of-two `b` and `r`. Output is parts-per-billion fixed point via
  * `floor(p·1e9 + 0.5)` — also exactly specified. The grid is generated
  * with `spark.range` (map-only, no data read). */
object LshCalibration {

  /** The pipeline's own config plus the two adjacent design points. */
  val DefaultConfigs: Seq[(Int, Int)] = Seq((16, 8), (32, 4), (8, 16))

  private def log2(n: Int): Int = {
    require(n > 0 && (n & (n - 1)) == 0, s"power of two required, got $n")
    java.lang.Integer.numberOfTrailingZeros(n)
  }

  private def squareChain(c: Column, times: Int): Column =
    (1 to times).foldLeft(c)((x, _) => x * x)

  /** Grid resolution of [[curve]]: t runs over pct/Steps. */
  val Steps = 100

  /** `(bands, rows_per_band, pct, p_collide_ppb)` for each of
    * [[DefaultConfigs]] and t = pct/[[Steps]] over pct in [1, Steps). */
  def curve(spark: SparkSession): DataFrame = {
    val grid = spark.range(1, Steps).select(col("id").cast("int").as("pct"))
    DefaultConfigs.map { case (b, r) =>
      val t = col("pct").cast("double") / lit(Steps.toDouble)
      val u = lit(1.0) - squareChain(t, log2(r)) // 1 - t^r
      val p = lit(1.0) - squareChain(u, log2(b)) // 1 - (1 - t^r)^b
      grid.select(lit(b).as("bands"), lit(r).as("rows_per_band"), col("pct"),
        floor(p * lit(1.0e9) + lit(0.5)).cast("long").as("p_collide_ppb"))
    }.reduce(_ unionByName _)
  }

  /** Scalar twin of the [[curve]] chain (same association order) — the
    * spec cross-checks it against library `pow` within float tolerance. */
  def collisionProbability(t: Double, b: Int, r: Int): Double = {
    var s = t
    (1 to log2(r)).foreach(_ => s = s * s)
    var u = 1.0 - s
    (1 to log2(b)).foreach(_ => u = u * u)
    1.0 - u
  }

  /** Collision probability in the curve's parts-per-billion fixed point —
    * the exactly-specified form every engine reproduces bit-for-bit
    * (square chains + one floor), used for DESIGN decisions so a recall
    * comparison can never flip on cross-engine float noise. */
  def collisionPpb(t: Double, b: Int, r: Int): Long =
    math.floor(collisionProbability(t, b, r) * 1.0e9 + 0.5).toLong

  /** All power-of-two factorizations (bands, rows) of a power-of-two
    * signature length, bands descending. */
  def configsFor(sigLen: Int): Seq[(Int, Int)] = {
    val k = log2(sigLen)
    (0 to k).map(i => (sigLen >> i, 1 << i))
  }

  /** Pick the banding config for a `sigLen`-lane signature: among all
    * power-of-two (b, r) with b·r = sigLen whose per-pair recall at
    * `threshold` meets `targetRecallPpb` (ppb fixed point, e.g.
    * 990_000_000 = 0.99), choose the FEWEST bands — recall constraints
    * admit a set of configs, and within it fewer bands means a steeper,
    * further-right S-curve (larger midpoint (1/b)^(1/r)) and therefore the
    * least candidate volume from sub-threshold boilerplate, which is what
    * a 10^12-doc deployment pays for. Falls back to the highest-recall
    * config when nothing meets the target (the signature is too short for
    * the ask — the caller should grow sigLen, not silently under-recall).
    * The pipeline's pinned 16×8 is exactly
    * `design(128, 0.9, 990000000L)`. */
  def design(sigLen: Int, threshold: Double, targetRecallPpb: Long): (Int, Int) = {
    val cs = configsFor(sigLen)
    val meeting = cs.filter { case (b, r) => collisionPpb(threshold, b, r) >= targetRecallPpb }
    if (meeting.nonEmpty) meeting.minBy(_._1)
    else cs.maxBy { case (b, r) => collisionPpb(threshold, b, r) }
  }
}

package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._

import graft.core.{CmsSketch, HllSketch, KllSketch, ReqSketch, ThetaSketch}

/** `sketch_rollup`: an event table aggregated with the five sketch
  * aggregates in two phases. Few groups (16 keys) is update-bound; many
  * groups, then a rollup of the serialized sketches to the 16 keys with
  * `req_merge`/`hll_union`/`theta_union`, is merge- and serialize-bound.
  * An operation runs the few-groups phase [[UpdateRuns]] times (its rate
  * is taken from the median) and the many-groups phase and rollup once.
  *
  * The table is built so every exact answer is known in closed form: row
  * `id` falls in many-group `gk = id % K` at position `j = id / K`, and
  * group `gk` holds the values `off(gk) + {0 .. m-1}` (a seeded permutation
  * of positions), `d` distinct user ids, and item `"t"` exactly as often as
  * `floor(log2(j + 1)) = t`. Few-group `g16 = id % 16` is the union of the
  * many-groups with `gk % 16 = g16`. */
final class SketchRollup(ctx: RunContext) extends Workload {
  import SketchRollup._

  val name = "sketch_rollup"
  private val spark = ctx.spark
  val groups: Int = if (ctx.smoke) 64 else 2048
  val perGroup: Int = 1024
  val rows: Long = groups.toLong * perGroup
  // the second operation already runs at the steady-state time
  val warmupOps: Int = 1

  private val rnd = new scala.util.Random(ctx.seed)
  private val offsets = Array.fill(groups)(rnd.nextDouble() * perGroup * 3)
  private val mult = 2 * rnd.nextInt(perGroup / 2) + 1
  private val shift = rnd.nextInt(perGroup)
  // the seed moves values, not the amount of work: distinct ids per group
  // set theta/HLL sketch sizes, so they stay fixed
  private val distinct = perGroup * 3 / 8

  private var events: DataFrame = _
  private var phaseRuntime = Map.empty[String, RuntimeSnapshot]
  private var phaseSeconds = Map.empty[String, Seq[Double]]

  def generate(dir: Path): Unit = {
    val j = col("id").divide(groups).cast("long")
    val gk = (col("id") % groups).cast("int")
    spark.range(rows).select(
      gk.as("gk"),
      (col("id") % 16).cast("int").as("g16"),
      (element_at(typedLit(offsets.toSeq), gk + 1) + pmod(j * mult + shift, lit(perGroup.toLong)))
        .as("v"),
      (gk + lit(groups.toLong) * pmod(j, lit(distinct.toLong))).as("u"),
      concat(lit("t"), floor(log2(j + 1) + 1e-9).cast("string")).as("item"))
      .write.mode("overwrite").parquet(dir.resolve("events").toString)
  }

  def prepare(dir: Path): Unit = {
    require(groups % 16 == 0 && Integer.bitCount(perGroup) == 1, "sizes out of shape")
    events = spark.read.parquet(dir.resolve("events").toString)
  }

  private val aggs = Seq(expr("req_sketch(v)").as("req"), expr("kll_sketch(v)").as("kll"),
    expr("hll_sketch(u)").as("hll"), expr("theta_sketch(u)").as("theta"),
    expr("cms_sketch(item)").as("cms"))

  private def phase[T](label: String, traced: Boolean)(body: => T): (T, Double) = {
    val before = ctx.runtime.snapshot(spark)
    val r = Stats.seconds(if (traced) ctx.tracer.span("spark.sketch", label)(body) else body)
    val delta = ctx.runtime.snapshot(spark) - before
    phaseRuntime += label -> (phaseRuntime.getOrElse(label, RuntimeSnapshot.Zero) + delta)
    phaseSeconds += label -> (phaseSeconds.getOrElse(label, Nil) :+ r._2)
    r
  }

  override def beginMeasure(): Unit = {
    phaseRuntime = Map.empty
    phaseSeconds = Map.empty
  }

  def operation(index: Int, traced: Boolean): OpResult = {
    graft.spark.GraftFunctions.register(spark)
    val op = () => {
      val updates = (0 until UpdateRuns).map(_ => phase("update", traced) {
        events.groupBy("g16").agg(aggs.head, aggs.tail: _*).collect()
      })
      val few = updates.head._1
      val updateS = Stats.median(updates.map(_._2))
      val (many, manyS) = phase("merge", traced) {
        GraftBridge.materialize(events.groupBy("gk").agg(aggs.head, aggs.tail: _*))
      }
      val (rolled, rollupS) = phase("rollup", traced) {
        many.groupBy((col("gk") % 16).as("g16"))
          .agg(expr("req_merge(req)").as("req"), expr("hll_union(hll)").as("hll"),
            expr("theta_union(theta)").as("theta"))
          .collect()
      }
      (few, many, rolled, updateS, manyS + rollupS)
    }
    val ((few, many, rolled, updateS, rollupS), opS) =
      Stats.seconds(if (traced) ctx.tracer.rootSpan("workload", s"$name.op")(op()) else op())

    val problems = Seq.newBuilder[String]
    def members(g16: Int) = (g16 until groups by 16)
    few.foreach { r =>
      val g = r.getAs[Number]("g16").intValue
      problems ++= checkAll(s"few[$g]", r, members(g), withKllCms = true)
    }
    many.filter(col("gk") < 16).collect().foreach { r =>
      val g = r.getAs[Number]("gk").intValue
      problems ++= checkAll(s"many[$g]", r, Seq(g), withKllCms = true)
    }
    rolled.foreach { r =>
      val g = r.getAs[Number]("g16").intValue
      problems ++= checkAll(s"rollup[$g]", r, members(g), withKllCms = false)
    }
    if (few.length != 16 || rolled.length != 16) problems += "wrong group count"
    OpResult(opS, rows / updateS, rollupS, problems.result())
  }

  /** Checks one aggregated row against the closed-form answers for the
    * union of many-groups `gs`, each at its sketch's own error bound. */
  private def checkAll(label: String, r: Row, gs: Seq[Int], withKllCms: Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    val offs = gs.map(offsets(_))
    val lo = offs.min
    val hi = offs.max + perGroup
    val n = gs.length.toDouble * perGroup
    def exactRank(x: Double): Double =
      offs.map(o => math.min(math.max(math.ceil(x - o), 0.0), perGroup.toDouble)).sum / n
    // probe values at the exact quantiles RankProbes (bisection on the
    // monotone exact rank)
    val probes = RankProbes.map { p =>
      var (a, b) = (lo, hi)
      (0 until 60).foreach { _ => val mid = (a + b) / 2; if (exactRank(mid) < p) a = mid else b = mid }
      b
    }

    val req = ReqSketch.deserialize(r.getAs[Array[Byte]]("req"))
    if (req.count != n.toLong) out += s"$label req count ${req.count} != ${n.toLong}"
    probes.foreach { x =>
      val est = req.rank(x)
      val ex = exactRank(x)
      if (ex < req.rankLowerBound(est, 3) - Eps || ex > req.rankUpperBound(est, 3) + Eps)
        out += s"$label req rank($x) = $est, exact $ex"
    }
    val trueDistinct = gs.length.toDouble * distinct
    def distinctCheck(kind: String, est: Double, lb: Double, ub: Double): Unit =
      if (trueDistinct < lb - Eps || trueDistinct > ub + Eps)
        out += s"$label $kind estimate $est, exact $trueDistinct"
    val hll = HllSketch.deserialize(r.getAs[Array[Byte]]("hll"))
    distinctCheck("hll", hll.estimate, hll.lowerBound(DistinctSigmas), hll.upperBound(DistinctSigmas))
    val theta = ThetaSketch.deserialize(r.getAs[Array[Byte]]("theta"))
    distinctCheck("theta", theta.estimate, theta.lowerBound(DistinctSigmas),
      theta.upperBound(DistinctSigmas))

    if (withKllCms) {
      val kll = KllSketch.deserialize(r.getAs[Array[Byte]]("kll"))
      probes.foreach { x =>
        val err = math.abs(kll.rank(x) - exactRank(x))
        if (err > kll.normalizedRankError + Eps) out += s"$label kll rank($x) off by $err"
      }
      val cms = CmsSketch.deserialize(r.getAs[Array[Byte]]("cms"))
      var t = 0
      while ((1 << t) <= perGroup) {
        val exact = gs.length.toLong * (math.min((1L << (t + 1)) - 1, perGroup.toLong) - (1L << t) + 1)
        val est = cms.estimate(s"t$t")
        if (est < exact || est > exact + cms.errorScale) out += s"$label cms t$t = $est, exact $exact"
        t += 1
      }
    }
    out.result()
  }

  /** Sketch-phase figures, plus the query-registry probe: it needs a
    * session but no particular workload, and this is the shorter run. */
  def layerMetrics(): (Map[String, Double], Seq[String]) = {
    def med(label: String) = phaseSeconds.get(label).map(Stats.median).getOrElse(0.0)
    val ops = math.max(phaseSeconds.get("merge").map(_.length).getOrElse(1), 1)
    val total = phaseRuntime.values.foldLeft(RuntimeSnapshot.Zero)(_ + _)
    val sketch = Map(
      "spark.sketch.update_phase_s" -> med("update"),
      "spark.sketch.merge_phase_s" -> med("merge"),
      "spark.sketch.rollup_phase_s" -> med("rollup"),
      "spark.sketch.shuffle_bytes" -> total.shuffleWriteBytes.toDouble / ops,
      "spark.sketch.spill_bytes" -> total.spillBytes.toDouble / ops)
    val (catalog, mismatches) = new CatalogProbe(ctx, ctx.work.resolve("catalog"),
      ctx.expectedDir.resolve("catalog.json"), ctx.record).run()
    (sketch ++ catalog, mismatches)
  }
}

object SketchRollup {
  val UpdateRuns = 5
  val RankProbes: Seq[Double] = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
  /** An operation checks ~100 distinct-count estimates; at 3 sigmas a
    * sound estimator would fail about a quarter of operations by chance.
    * Five sigmas (Bonferroni for 100 checks at a 1e-4 family-wise rate)
    * still catches any real breakage: at lgK=12 it is an 8% error. */
  private val DistinctSigmas = 5
  private val Eps = 1e-9
}

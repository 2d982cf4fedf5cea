import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.perfbench.{RunContext, RuntimeListener, Session, SketchRollup, Tracer}
import graft.spark.{GraftFunctions, SketchBundle}

/** Same-JVM A/B of `sketch_rollup`'s phases with the `SketchBundle` rule on
  * and off: the 16-group update phase, the 2,048-group materialize phase
  * and the rollup of its stored sketches, over perfbench's own table and
  * session. A ~7% effect is inside what separate JVMs swing, so this
  * alternates the two settings in one JVM, flipping which runs first each
  * round.
  *
  * Compile it against perfbench's classes of a checkout and run it with
  * perfbench's JVM flags (`.claude/skills/verify/SKILL.md`, "Same-JVM A/B
  * of the sketch phases", has both command lines):
  *
  *     java <perfbench/run.py's --add-opens list> -Xmx3g -XX:+UseParallelGC \
  *       -cp <app>:<classes>:<the Spark jars> SketchPhaseAB <workdir> [rounds] [seed]
  *
  * Prints, per phase and setting, the median and quartiles of the rounds
  * after the first two (JIT warm-up), and the on/off ratio of the medians. */
object SketchPhaseAB {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val rounds = if (args.length > 1) args(1).toInt else 12
    val seed = if (args.length > 2) args(2).toLong else 1L
    Files.createDirectories(work)
    val spark = Session.start(work)
    val ctx = new RunContext(spark, seed, smoke = false, work, new Tracer(false, "ab"),
      new RuntimeListener, work, record = false)
    val data = work.resolve("data")
    new SketchRollup(ctx).generate(data)
    GraftFunctions.register(spark)
    val events = spark.read.parquet(data.resolve("events").toString)
    val aggs = Seq(expr("req_sketch(v)").as("req"), expr("kll_sketch(v)").as("kll"),
      expr("hll_sketch(u)").as("hll"), expr("theta_sketch(u)").as("theta"),
      expr("cms_sketch(item)").as("cms"))

    def seconds(body: => Any): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    def phases(): Seq[(String, Double)] = {
      val update = seconds(events.groupBy("g16").agg(aggs.head, aggs.tail: _*).collect())
      var many: DataFrame = null
      val merge = seconds { many = GraftBridge.materialize(events.groupBy("gk").agg(aggs.head, aggs.tail: _*)) }
      val rollup = seconds(many.groupBy((col("gk") % 16).as("g16"))
        .agg(expr("req_merge(req)").as("req"), expr("hll_union(hll)").as("hll"),
          expr("theta_union(theta)").as("theta")).collect())
      Seq("update" -> update, "merge" -> merge, "rollup" -> rollup)
    }
    def setRule(on: Boolean): Unit = {
      val experimental = spark.experimental
      val others = experimental.extraOptimizations.filterNot(_ == SketchBundle)
      experimental.extraOptimizations = if (on) others :+ SketchBundle else others
    }

    val times = scala.collection.mutable.Map.empty[(String, Boolean), Vector[Double]].withDefaultValue(Vector())
    for (round <- 0 until rounds; on <- if (round % 2 == 0) Seq(true, false) else Seq(false, true)) {
      setRule(on)
      val ts = phases()
      if (round >= 2) ts.foreach { case (phase, s) => times((phase, on)) :+= s }
      println(f"round $round%2d rule=${if (on) "on " else "off"} " + ts.map { case (p, s) => f"$p=$s%.3f" }.mkString(" "))
    }
    def quartiles(xs: Vector[Double]): (Double, Double, Double) = {
      val s = xs.sorted
      def at(q: Double) = s(math.min(s.length - 1, math.round(q * (s.length - 1)).toInt))
      (at(0.25), at(0.5), at(0.75))
    }
    for (phase <- Seq("update", "merge", "rollup")) {
      val (onQ1, onMed, onQ3) = quartiles(times((phase, true)))
      val (offQ1, offMed, offQ3) = quartiles(times((phase, false)))
      println(f"$phase%-7s on $onMed%.3f s [$onQ1%.3f, $onQ3%.3f]  off $offMed%.3f s [$offQ1%.3f, $offQ3%.3f]" +
        f"  on/off ${onMed / offMed}%.3f")
    }
    spark.stop()
  }
}

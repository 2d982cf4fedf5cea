package graft.perfbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point; see perfbench/README.md.
  *
  * {{{
  * Main --workload <pipeline_fresh|sketch_rollup> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --expected <dir> [--size smoke] [--record 1]
  * Main --selftest
  * Main --dump-catalog <dir> [--size smoke]
  * }}}
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`; the line before it carries the details (per-op
  * times under the workload's own metric names, host calibration). */
object Main {

  /** Stop starting operations this long after the JVM started, so a slow
    * window cannot push a run past its time limit. */
  private val LoopDeadlineS = 120.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.run(); return }
    opts.get("dump-catalog").foreach { d => dumpCatalog(Paths.get(d), opts.get("size").contains("smoke")); return }
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val smoke = opts.get("size").contains("smoke")
    val work = Files.createDirectories(Paths.get(opts.getOrElse("work", sys.error("--work is required"))))
    val jvmStart = System.nanoTime()

    val calPre = Host.calibrate()
    val (spark, sessionS) = Stats.seconds(Session.start(work))
    val runtime = new RuntimeListener
    spark.sparkContext.addSparkListener(runtime)
    val tracer = new Tracer(traced, s"$workload-$seed-${System.currentTimeMillis()}")
    val expectedDir = Paths.get(opts.getOrElse("expected", sys.error("--expected is required")))
    val ctx = new RunContext(spark, seed, smoke, work, tracer, runtime, expectedDir,
      record = opts.get("record").contains("1"))
    val wl: Workload = workload match {
      case "pipeline_fresh" => new PipelineFresh(ctx)
      case "sketch_rollup"  => new SketchRollup(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: input generation three times (median charged), loading and
    // expected answers, then warm-up operations at the workload's own size
    val genS = (0 until 3).map(i => Stats.seconds(wl.generate(Files2.fresh(work.resolve(s"input-$i"))))._2)
    (1 until 3).foreach(i => Files2.deleteTree(work.resolve(s"input-$i")))
    val input = work.resolve("input-0")
    val prepareS = Stats.seconds(wl.prepare(input))._2
    val warm = Stats.seconds((0 until wl.warmupOps).map(i => wl.operation(-1 - i, traced = false)))
    val warmProblems = warm._1.flatMap(_.problems)
    val setupS = sessionS + Stats.median(genS) + prepareS + warm._2

    // measured closed loop; traced runs alternate untraced and traced ops
    wl.beginMeasure()
    val rt0 = runtime.snapshot(spark)
    val results = scala.collection.mutable.ArrayBuffer[(OpResult, Boolean)]()
    val heaps = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = 0
    val loopStart = System.nanoTime()
    def elapsed(from: Long) = (System.nanoTime() - from) / 1e9
    val minOps = if (traced) 2 else 1
    while (results.length < minOps ||
      (elapsed(loopStart) < seconds && elapsed(jvmStart) < LoopDeadlineS)) {
      val i = results.length
      val tracedOp = traced && i % 2 == 1
      try {
        val r = wl.operation(i, tracedOp)
        if (r.problems.nonEmpty) {
          failed += 1
          r.problems.take(5).foreach(p => System.err.println(s"[perfbench] op $i check failed: $p"))
        }
        results += ((r, tracedOp))
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
          results += ((OpResult(Double.NaN, Double.NaN, Double.NaN, Seq(e.toString)), tracedOp))
      }
      heaps += Host.retainedHeapMb()
    }
    val rtDelta = runtime.snapshot(spark) - rt0
    val ok = results.collect { case (r, t) if !r.opS.isNaN => (r, t) }
    val untraced = ok.filterNot(_._2).map(_._1)

    val calPost = Host.calibrate()
    val attempted = results.length

    val layerProblems = scala.collection.mutable.ArrayBuffer[String]()
    val metrics: Seq[(String, String, Double)] =
      if (!traced) {
        def med(f: OpResult => Double) = if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(f).toSeq)
        val values = Map(
          "setup_s" -> setupS,
          "op_s" -> med(_.opS),
          "throughput_per_s" -> med(_.throughput),
          "second_phase_s" -> med(_.secondPhaseS),
          "retained_heap_mb" -> Stats.median(heaps.toSeq))
        Metrics.EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val probes = new CoreProbes(tracer, seed)
        val measured = scala.collection.mutable.Map[String, Double]()
        def guarded(label: String)(body: => Map[String, Double]): Unit =
          try measured ++= body catch {
            case e: Exception =>
              layerProblems += s"$label: $e"
              System.err.println(s"[perfbench] layer probe $label failed: $e")
          }
        guarded("workload") {
          val (m, problems) = wl.layerMetrics()
          layerProblems ++= problems
          problems.foreach(p => System.err.println(s"[perfbench] layer check failed: $p"))
          m
        }
        guarded("core.sketch")(probes.sketches())
        guarded("core.text")(probes.textKernels())
        val n = math.max(attempted, 1).toDouble
        measured ++= Map(
          "spark.jobs" -> rtDelta.jobs / n, "spark.tasks" -> rtDelta.tasks / n,
          "spark.shuffle_write_bytes" -> rtDelta.shuffleWriteBytes / n,
          "spark.spill_bytes" -> rtDelta.spillBytes / n,
          "spark.gc_s" -> rtDelta.gcS / n, "spark.executor_cpu_s" -> rtDelta.cpuS / n)
        val spans = tracer.all
        val self = Spans.selfSecondsByLayer(spans)
        Metrics.SpanLayers.foreach(l => measured(Metrics.selfTimeName(l)) = self.getOrElse(l, 0.0))
        val tracedOps = ok.filter(_._2).map(_._1.opS)
        val plainOps = untraced.map(_.opS)
        val overhead =
          if (tracedOps.isEmpty || plainOps.isEmpty) 0.0
          else Stats.median(tracedOps.toSeq) - Stats.median(plainOps.toSeq)
        measured ++= Map("trace.spans" -> spans.length.toDouble, "trace.overhead_s" -> overhead,
          "trace.overhead_pct" -> (if (plainOps.isEmpty) 0.0 else 100.0 * overhead / Stats.median(plainOps.toSeq)),
          "host.calib_pre_s" -> calPre, "host.calib_post_s" -> calPost)
        tracer.writeJsonLines(work.resolve("spans.jsonl"))
        Metrics.PerLayer.map { case (n, u) => (n, u, measured.getOrElse(n, 0.0)) }
      }

    val named = if (untraced.isEmpty) Map.empty[String, Double] else workloadNames(workload, untraced.toSeq)
    val detail = (named.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" } ++ Seq(
      s""""setup_session_s":${Json.num(sessionS)}""",
      s""""setup_generate_s":${genS.map(Json.num).mkString("[", ",", "]")}""",
      s""""setup_warmup_s":${Json.num(warm._2)}""",
      s""""op_s_each":${results.map(r => Json.num(r._1.opS)).mkString("[", ",", "]")}""",
      s""""host_calib_pre_s":${Json.num(calPre)}""",
      s""""host_calib_post_s":${Json.num(calPost)}""")).mkString("{", ",", "}")
    println(s"""{"workload":${Json.str(workload)},"seed":$seed,"trace":${if (traced) 1 else 0},"detail":$detail}""")

    val correct = failed == 0 && warmProblems.isEmpty && layerProblems.isEmpty &&
      metrics.forall(m => !m._3.isNaN)
    val metricJson = metrics.map { case (n, u, v) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricJson}""")
    spark.stop()
  }

  private def dumpCatalog(dir: Path, smoke: Boolean): Unit = {
    val work = Files.createDirectories(dir.resolveSibling("dump-work"))
    val spark = Session.start(work)
    val ctx = new RunContext(spark, 0L, smoke, work, new Tracer(false, "dump"), new RuntimeListener,
      dir, record = false)
    new CatalogProbe(ctx, dir, dir, record = false).dump()
    spark.stop()
    println("dumped")
  }

  /** The workload's end-to-end figures under their own names. */
  private def workloadNames(workload: String, ops: Seq[OpResult]): Map[String, Double] = {
    def med(f: OpResult => Double) = Stats.median(ops.map(f))
    workload match {
      case "pipeline_fresh" => Map("pipeline_docs_per_s" -> med(_.throughput),
        "pipeline_resume_s" -> med(_.secondPhaseS))
      case _ => Map("sketch_update_rows_per_s" -> med(_.throughput),
        "sketch_rollup_s" -> med(_.secondPhaseS))
    }
  }
}

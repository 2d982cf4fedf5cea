package graft.perfbench

/** Metric names and units, in the order they are printed. BENCHMARK.json
  * lists the same names; the benchmark's tests check that they agree. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_s" -> "s",
    "throughput_per_s" -> "1/s",
    "second_phase_s" -> "s",
    "retained_heap_mb" -> "MB")

  private val sketchKinds = Seq("req", "kll", "hll", "theta", "cms")
  private val textKernels = Seq("extract", "minhash", "oph", "icws", "simhash", "winnow", "doc_features")

  /** Span layers whose self time is reported. */
  val SpanLayers: Seq[String] = Seq("workload", "pipeline", "spark.sketch", "spark.bridge",
    "operators", "catalog", "core.sketch", "core.text")

  def selfTimeName(layer: String): String = s"trace.self.${layer.replace('.', '_')}_s"

  val PerLayer: Seq[(String, String)] =
    (for (k <- sketchKinds; m <- Seq("update_ns", "merge_ns", "serde_ns")) yield s"core.$k.$m" -> "ns") ++
    textKernels.map(k => s"core.text.${k}_us_per_doc" -> "us") ++
    Seq("spark.sketch.update_phase_s" -> "s", "spark.sketch.merge_phase_s" -> "s",
      "spark.sketch.rollup_phase_s" -> "s", "spark.sketch.shuffle_bytes" -> "bytes",
      "spark.sketch.spill_bytes" -> "bytes", "spark.materialize.features_s" -> "s") ++
    Seq("ops.exact.s" -> "s", "ops.exact.edges" -> "count",
      "ops.minhash.s" -> "s", "ops.minhash.candidates" -> "count", "ops.minhash.edges" -> "count",
      "ops.minhash.verify_pass_rate" -> "ratio",
      "ops.simhash.s" -> "s", "ops.simhash.edges" -> "count",
      "ops.substring.s" -> "s", "ops.substring.edges" -> "count",
      "ops.cc.s" -> "s", "ops.cc.components" -> "count") ++
    PipelineFresh.Stages.map(s => s"pipeline.stage.${s}_s" -> "s") ++
    Seq("pipeline.lineage.append_s" -> "s", "pipeline.commit_count" -> "count",
      "pipeline.resume.read_count" -> "count") ++
    CatalogProbe.Targets.flatMap(q => Seq(s"catalog.$q.s" -> "s", s"catalog.$q.jobs" -> "count")) ++
    Seq("spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "spark.executor_cpu_s" -> "s") ++
    SpanLayers.map(l => selfTimeName(l) -> "s") ++
    Seq("trace.spans" -> "count", "trace.overhead_s" -> "s", "trace.overhead_pct" -> "%",
      "host.calib_pre_s" -> "s", "host.calib_post_s" -> "s")
}

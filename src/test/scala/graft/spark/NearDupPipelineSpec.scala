package graft.spark

import graft.core.WebPages
import graft.pipeline.NearDupPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end north-rule pipeline correctness: dup-pair recall >= 0.99
  * against the brute-force truth oracle at the reference config, the
  * byte-identical extraction invariant, and exact resume from the last
  * committed stage snapshot. */
class NearDupPipelineSpec extends AnyFunSuite with SparkSuiteBase {

  private def pagesDf(n: Int, seed: Long): (DataFrame, Set[(String, String, String)]) = {
    val pages = WebPages.generate(n, seed)
    val truth = WebPages.truthPairs(pages)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(pages, 8))
    (df, truth)
  }

  /** `body`'s result and the call site (final stage name) of every Spark
    * job started while it ran, on any thread (the lane futures launch jobs
    * too). Suites run one at a time, so no other
    * test's jobs interleave. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("pipeline recall >= 0.99 vs brute-force truth at reference config") {
    val (df, truth) = pagesDf(600, 42L)
    assert(truth.nonEmpty)
    val cfg = NearDupPipeline.Config(workDir = tmpDir("pipe"))
    val res = NearDupPipeline.run(spark, df, cfg)

    import spark.implicits._
    val truthDf = truth.toSeq.toDF("url_a", "url_b", "kind")
    val r = NearDupPipeline.recall(res.clusters, truthDf)
    assert(r >= 0.99, s"dup-pair recall $r < 0.99 (truth=${truth.size} pairs)")

    // no-overmerge sanity: intra-cluster pairs should be mostly true dups
    // (transitive closure can add a few, but clusters must not collapse)
    val nClusters = res.clusters.select("component").distinct().count()
    assert(nClusters > 300, s"suspiciously few clusters: $nClusters")
  }

  test("extraction invariant enforced: corrupted html fails loudly") {
    val (df, _) = pagesDf(50, 1L)
    val bad = df.withColumn("html",
      when(col("url").endsWith("/p/3"), lit("<p>tampered</p>".getBytes))
        .otherwise(col("html")))
    val cfg = NearDupPipeline.Config(workDir = tmpDir("bad"))
    val e = intercept[Exception] {
      NearDupPipeline.run(spark, bad, cfg).clusters.count()
    }
    assert(e.getMessage != null)
  }

  test("resume: re-run skips committed stages and reproduces identical clusters") {
    val (df, _) = pagesDf(300, 9L)
    val dir = tmpDir("resume")
    // pinned input snapshot id (the production Iceberg path): the resume
    // run below passes an EMPTY frame to prove stages are read, not
    // recomputed — without the pin the input-identity scan would
    // (correctly) invalidate them
    val cfg = NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("snap-1"))

    val first = NearDupPipeline.run(spark, df, cfg)
    val firstClusters = first.clusters.orderBy("url").collect().map(r => (r.getString(0), r.getLong(2)))

    // simulate a failure after edges_* committed: delete the cluster stages
    def rm(stage: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$stage")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    rm("clusters"); rm("cluster_stats")

    // resume with an EMPTY input frame: committed stages must be read, not
    // recomputed (the real resume path reads only workDir state), and the
    // recomputed tail must match the first run bit-for-bit.
    val emptyPages = df.limit(0)
    val second = NearDupPipeline.run(spark, emptyPages, cfg)
    val secondClusters = second.clusters.orderBy("url").collect().map(r => (r.getString(0), r.getLong(2)))
    assert(secondClusters.sameElements(firstClusters), "resume changed cluster assignments")

    // lineage table has one snapshot row set per stage
    val stages = second.metrics.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("extracted", "edges_exact", "edges_minhash",
      "edges_simhash", "edges_substring", "clusters", "cluster_stats"))
  }

  /** Jobs launched inside a fresh `run` and inside a fully committed
    * resume of it (the caller's first action is outside both). */
  private lazy val jobBudget: (Seq[String], Seq[String]) = {
    val (df, _) = pagesDf(300, 9L)
    val cfg = NearDupPipeline.Config(workDir = tmpDir("jobs"), inputSnapshotId = Some("snap-1"))
    val (fresh, freshJobs) = jobsDuring(NearDupPipeline.run(spark, df, cfg))
    val freshClusters = fresh.clusters.orderBy("url").collect().map(_.toSeq)
    val (resumed, resumeJobs) = jobsDuring(NearDupPipeline.run(spark, df, cfg))
    assert(resumed.clusters.orderBy("url").collect().map(_.toSeq).sameElements(freshClusters))
    (freshJobs, resumeJobs)
  }

  test("job budget: a fully committed resume launches no Spark job") {
    // before stage tables carried their schema, every read ran one parquet
    // footer-inference job: 7 stage reads + `_metrics` = 8 on this resume
    val resumeJobs = jobBudget._2
    assert(resumeJobs.isEmpty, s"resume launched ${resumeJobs.size} jobs: ${resumeJobs.mkString("; ")}")
  }

  test("job budget: a fresh run launches at least 10 fewer jobs than before") {
    // this fresh run launched 53 jobs at aee32ae (54 when AQE's stage
    // timing runs one more shuffle stage): 8 schema-inference jobs, since
    // gone with the schema sidecars, and 2 (AQE map + result) for
    // connected components' edge recount, which the materialize pass now
    // supplies. That left 43, or 44 under the same timing, of which 7
    // appended a stage's lineage rows and 1 was the shuffle of a
    // `distinct` over the lanes' edges. The lineage rows are now written
    // on the driver and the edges reach connected components as they are:
    // 8 fewer again.
    val ParentFreshJobs = 54
    val freshJobs = jobBudget._1
    assert(freshJobs.size <= ParentFreshJobs - 10 - 8,
      s"fresh run launched ${freshJobs.size} jobs: ${freshJobs.mkString("; ")}")
  }

  /** A parquet TableIO that records, in call order, each `_metrics`
    * append (with the stages its rows name) and each `commit`, and also
    * appends every `_metrics` frame with `df.write` to `refDir`. */
  private class RecordingIO(dir: String, refDir: String) extends graft.pipeline.ParquetTableIO(spark, dir) {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, Set[String])]()
    override def append(table: String, df: DataFrame): Unit = {
      super.append(table, df)
      events.add(("append", df.select("stage").collect().map(_.getString(0)).toSet))
      df.write.mode("append").parquet(refDir)
    }
    override def commit(table: String, fingerprint: String): Unit = {
      events.add(("commit", Set(table)))
      super.commit(table, fingerprint)
    }
  }

  /** A fresh run through a [[RecordingIO]]: its events, its `_metrics`
    * table, and the `df.write` reference copy of the same appends. */
  private lazy val recorded: (Seq[(String, Set[String])], DataFrame, DataFrame, String) = {
    val (df, _) = pagesDf(300, 9L)
    val dir = tmpDir("lineage")
    val refDir = tmpDir("lineage-ref")
    val io = new RecordingIO(dir, refDir)
    val res = NearDupPipeline.run(spark, df,
      NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("snap-1")), io)
    (io.events.asScala.toSeq, res.metrics, spark.read.parquet(refDir), s"$dir/_metrics")
  }

  test("crash rule: each stage's lineage rows are appended right before its commit") {
    val events = recorded._1
    val stages = Seq("extracted", "edges_exact", "edges_minhash", "edges_simhash",
      "edges_substring", "clusters", "cluster_stats")
    assert(events.size == 2 * stages.size, events.toString)
    events.grouped(2).foreach {
      case Seq(("append", rows), ("commit", table)) =>
        assert(rows == table, s"$table committed after an append of $rows: $events")
      case pair => fail(s"not an append then its commit: $pair in $events")
    }
    assert(events.collect { case ("commit", t) => t.head }.toSet == stages.toSet)
  }

  test("lineage rows written on the driver read back as the df.write reference's") {
    val (_, metrics, reference, metricsDir) = recorded
    def rows(m: DataFrame) = m.select("stage", "partition_id", "rows", "sketch",
        "snapshot_id", "config_fp", "ts").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3).toSeq,
        r.getLong(4), r.getString(5), r.getTimestamp(6)))
      .sortBy(r => (r._1, r._2)).toSeq
    val got = rows(metrics)
    assert(got.nonEmpty)
    assert(got == rows(reference))
    // the files' own parquet schema, read without the sidecar, types the
    // columns as Spark's writer does
    def types(d: DataFrame) = d.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(types(spark.read.parquet(metricsDir)) == types(reference))
  }

  /** A parquet TableIO that counts `read` calls per table and notes how
    * many plans the session's cache holds at every table open and resume
    * check. */
  private class CountingIO(dir: String) extends graft.pipeline.ParquetTableIO(spark, dir) {
    val reads = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val cachedAtCalls = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    private def noteCache(): Unit =
      cachedAtCalls.add(org.apache.spark.sql.CacheProbe.cachedPlans(spark))
    override def read(table: String): DataFrame = {
      reads.synchronized { reads(table) += 1 }
      noteCache()
      super.read(table)
    }
    override def committedFingerprint(table: String): Option[String] = {
      noteCache()
      super.committedFingerprint(table)
    }
  }

  private case class ResumeScope(
      fullReads: Map[String, Int], cachedBefore: Int, fullCachedAtCalls: Seq[Int],
      partialReads: Map[String, Int], sameClusters: Boolean,
      freshSnapshotIds: Map[String, Set[Long]], partialSnapshotIds: Map[String, Set[Long]],
      partialRecomputedRows: Map[String, Long])

  /** A fresh run, a fully committed resume of it, and a resume after
    * `clusters` and `cluster_stats` were deleted, each through its own
    * CountingIO. Both resumes get an empty input frame, so whatever they
    * return comes from committed tables. */
  private lazy val resumeScope: ResumeScope = {
    val (df, _) = pagesDf(300, 21L)
    val dir = tmpDir("scope")
    val cfg = NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("snap-1"))
    def clusterRows(r: NearDupPipeline.Result) =
      r.clusters.orderBy("url").collect().map(_.toSeq).toSeq
    def snapshotIds(m: DataFrame) =
      m.select("stage", "snapshot_id").distinct().collect()
        .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val fresh = NearDupPipeline.run(spark, df, cfg, new CountingIO(dir))
    val freshClusters = clusterRows(fresh)
    val freshMetrics = fresh.metrics.collect().toSeq
    val freshIds = snapshotIds(fresh.metrics)

    val cachedBefore = org.apache.spark.sql.CacheProbe.cachedPlans(spark)
    val full = new CountingIO(dir)
    NearDupPipeline.run(spark, df.limit(0), cfg, full)

    Seq("clusters", "cluster_stats").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val partial = new CountingIO(dir)
    val resumed = NearDupPipeline.run(spark, df.limit(0), cfg, partial)
    val recomputed = Seq("clusters", "cluster_stats")
    val partialRows = resumed.metrics.filter(col("stage").isin(recomputed: _*))
    ResumeScope(full.reads.toMap, cachedBefore, full.cachedAtCalls.asScala.toSeq,
      partial.reads.toMap, clusterRows(resumed) == freshClusters,
      freshIds, snapshotIds(partialRows),
      recomputed.map(t => t -> (partialRows.filter(col("stage") === t).count() -
        freshMetrics.count(_.getString(0) == t))).toMap)
  }

  test("resume scope: a fully committed resume opens only the tables it returns") {
    assert(resumeScope.fullReads == Map("clusters" -> 1, "cluster_stats" -> 1, "_metrics" -> 1),
      resumeScope.fullReads.toString)
  }

  test("resume scope: a fully committed resume caches nothing") {
    // sampled at every table open and resume check, the last being the
    // `_metrics` open on return: a plan cached and dropped inside the run
    // shows only there
    val s = resumeScope
    assert(s.fullCachedAtCalls.nonEmpty)
    assert(s.fullCachedAtCalls.forall(_ == s.cachedBefore),
      s"cached plans during the resume: ${s.fullCachedAtCalls.mkString(",")} (before: ${s.cachedBefore})")
  }

  test("resume scope: a partial resume opens each input once and recomputes the same tail") {
    val s = resumeScope
    val stages = Seq("extracted", "edges_exact", "edges_minhash", "edges_simhash",
      "edges_substring", "clusters", "cluster_stats")
    assert(s.partialReads == (stages :+ "_metrics").map(_ -> 1).toMap, s.partialReads.toString)
    assert(s.sameClusters, "partial resume changed cluster assignments")
    // the recomputed stages appended a second set of lineage rows, under
    // the snapshot ids the fresh run gave them
    Seq("clusters", "cluster_stats").foreach { t =>
      assert(s.partialRecomputedRows(t) > 0, s"$t appended no lineage rows")
      assert(s.partialSnapshotIds(t) == s.freshSnapshotIds(t),
        s"$t: ${s.partialSnapshotIds(t)} vs fresh ${s.freshSnapshotIds(t)}")
    }
    assert(s.freshSnapshotIds("clusters") == Set(6L) && s.freshSnapshotIds("cluster_stats") == Set(7L),
      s.freshSnapshotIds.toString)
  }

  test("resume: changed config invalidates committed stages (fingerprint mismatch)") {
    val (df, _) = pagesDf(200, 3L)
    val dir = tmpDir("fp")
    val cfg = NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("snap-1"))
    NearDupPipeline.run(spark, df, cfg).clusters.count()

    // same workDir, different jaccard threshold, EMPTY input: if the stages
    // were (wrongly) reused, the clusters of the first run would come back;
    // the fingerprint mismatch must force recompute, which over an empty
    // input yields zero clusters
    val cfg2 = cfg.copy(jaccardThreshold = 0.5)
    val rerun = NearDupPipeline.run(spark, df.limit(0), cfg2)
    assert(rerun.clusters.count() == 0, "stale stage outputs reused despite config change")

    // same config resumes: stages are now committed under cfg2 (with empty
    // outputs), so re-running cfg2 with the FULL input must still read the
    // committed empty snapshots rather than recompute
    val resumed = NearDupPipeline.run(spark, df, cfg2)
    assert(resumed.clusters.count() == 0, "committed stages were recomputed despite matching fingerprint")

    // the default config's fingerprint is pinned: stages committed under
    // it must stay resumable
    assert(NearDupPipeline.configFingerprint(NearDupPipeline.Config(workDir = "x")) ==
      "a874d09482f8d6d7")
  }

  test("resume: fingerprints of the default and the simhash-off config are pinned") {
    // recorded while the substring length and bucket cap were Config
    // fields: stages committed under either config must stay resumable
    val base = NearDupPipeline.Config(workDir = "x")
    assert(NearDupPipeline.configFingerprint(base) == "a874d09482f8d6d7")
    assert(NearDupPipeline.configFingerprint(base.copy(simhashMaxDist = -1)) == "df0f01b6f63539")
  }

  test("resume: same workDir + config but DIFFERENT input recomputes all stages") {
    val (df, _) = pagesDf(150, 13L)
    val dir = tmpDir("inputfp")
    val cfg = NearDupPipeline.Config(workDir = dir) // no snapshot pin: identity is computed
    NearDupPipeline.run(spark, df, cfg).clusters.count()

    // a disjoint 50-page corpus against the same workDir: stale reuse
    // would return the 150-row cluster table of the first run
    val (df2, _) = pagesDf(50, 99L)
    val second = NearDupPipeline.run(spark, df2, cfg)
    assert(second.clusters.count() == 50,
      "committed stages reused despite a different input table")
  }

  test("metrics come from the write job: one read per stage, schema + values intact") {
    val (df, _) = pagesDf(200, 17L)
    val dir = tmpDir("tap")
    val io = new CountingIO(dir)
    val cfg = NearDupPipeline.Config(workDir = dir)
    val res = NearDupPipeline.run(spark, df, cfg, io)
    val nClusters = res.clusters.count()

    // r2 re-read every stage output for metrics (2 reads of `extracted`
    // per fresh run); the tap must keep it at exactly one
    assert(io.reads("extracted") == 1, s"extracted read ${io.reads("extracted")}x")

    val m = res.metrics
    assert(m.columns.toSeq == Seq(
      "stage", "partition_id", "rows", "sketch", "snapshot_id", "config_fp", "ts"))
    // tap row counts must equal the written tables' true counts
    import org.apache.spark.sql.functions._
    val byStage = m.groupBy("stage").agg(sum("rows").as("rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage("extracted") == 200, byStage.toString)
    assert(byStage("clusters") == nClusters, byStage.toString)
  }

  test("collision-safe ids: resolver splits synthetic collisions; flag-on pipeline parity") {
    import spark.implicits._
    // three docs share id 100 (synthetic 64-bit collision); id2 breaks ties
    val rows = Seq((100L, 7L, "a"), (100L, 3L, "b"), (100L, 9L, "c"), (200L, 1L, "d"))
      .toDF("id", "id2", "url")
    def resolve() = NearDupPipeline.resolveIdCollisions(rows, "id", "id2")
      .select("url", "id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val resolved = resolve()
    assert(resolved.values.toSet.size == 4, s"ids not distinct: $resolved")
    assert(resolved("b") == 100L, "min-tie member must keep the original id")
    assert(resolved("d") == 200L, "collision-free id must not change")
    assert(resolve() == resolved, "remap not deterministic")

    // on a collision-free corpus the flag must not change any output
    val (df, _) = pagesDf(150, 31L)
    val off = NearDupPipeline.run(spark, df,
        NearDupPipeline.Config(workDir = tmpDir("cid-off")))
      .clusters.orderBy("url").collect().map(_.toSeq)
    val on = NearDupPipeline.run(spark, df,
        NearDupPipeline.Config(workDir = tmpDir("cid-on"), collisionSafeIds = true))
      .clusters.orderBy("url").collect().map(_.toSeq)
    assert(on.sameElements(off), "collisionSafeIds changed collision-free output")
  }

  test("snapshot history: pinning an older committed snapshot reproduces its clusters") {
    val (df, _) = pagesDf(150, 23L)
    val dir = tmpDir("snap")
    val cfg = NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("in-1"))
    val firstClusters = NearDupPipeline.run(spark, df, cfg)
      .clusters.orderBy("url", "id").collect().map(_.toSeq)

    // a config change commits a SECOND clusters snapshot (full recompute)
    NearDupPipeline.run(spark, df, cfg.copy(jaccardThreshold = 0.5)).clusters.count()

    val io = new graft.pipeline.ParquetTableIO(spark, dir)
    val snaps = io.snapshots("clusters")
    assert(snaps.size == 2, s"expected 2 committed snapshots: $snaps")
    assert(snaps.map(_._2).distinct.size == 2, s"fingerprints should differ: $snaps")
    // head reads the new run; the PINNED older snapshot is byte-stable
    val pinned = io.readAt("clusters", snaps.head._1)
      .orderBy("url", "id").collect().map(_.toSeq)
    assert(pinned.sameElements(firstClusters),
      "older snapshot does not reproduce its run's clusters")
  }

  test("skew stress: one dominant template (2000 copies) stays linear and clusters whole") {
    // a boilerplate page repeated 2000x under distinct urls — every lane's
    // buckets for it are hot (over maxBucketSize=64), so candidate
    // generation must take the star path, never C(n,2): 2000 copies emit
    // O(2000) edges per lane instead of ~2M. With clusters coming out
    // right, this is the salted/capped collection's end-to-end oracle.
    val (df, _) = pagesDf(100, 5L)
    val template = WebPages.generate(1, 77L).head
    import spark.implicits._
    val copies = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 2000).map(i => template.copy(url = s"https://tpl.example/p/$i")), 8))
    val cfg = NearDupPipeline.Config(workDir = tmpDir("skew"))
    val res = NearDupPipeline.run(spark, df.unionByName(copies), cfg)

    // the template pages form exactly one 2000-member component
    val tplComponents = res.clusters
      .filter(col("url").startsWith("https://tpl.example/"))
      .groupBy("component").count().collect()
    assert(tplComponents.length == 1, s"template split into ${tplComponents.length} components")
    assert(tplComponents.head.getLong(1) == 2000)

    // and the edge stages stayed linear in the group size
    val io = new graft.pipeline.ParquetTableIO(spark, cfg.workDir)
    val edgeCounts = Seq("edges_exact", "edges_minhash", "edges_simhash", "edges_substring")
      .map(st => io.read(st).count())
    assert(edgeCounts.forall(_ < 20000), s"edge blowup: $edgeCounts")
  }

  test("cluster_stats sketches: sizes and distinct-url estimates agree") {
    val (df, _) = pagesDf(300, 11L)
    val cfg = NearDupPipeline.Config(workDir = tmpDir("stats"))
    val res = NearDupPipeline.run(spark, df, cfg)
    val rows = res.clusterStats.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val size = r.getAs[Long]("size")
      val urls = r.getAs[Long]("distinct_urls")
      val ids = r.getAs[Long]("distinct_ids")
      // theta below nominal entries is exact (k-minimum-values, no sampling)
      assert(ids == size, s"component ${r.get(0)}: theta=$ids size=$size")
      // hll at tiny cardinality: register-estimator, allow 3-sigma + rounding
      val tol = math.max(1.0, 3 * 1.04 / math.sqrt(1 << graft.core.HllSketch.DefaultLgK) * size)
      assert(math.abs(urls - size) <= tol, s"component ${r.get(0)}: hll=$urls size=$size")
    }
  }
}

package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.core.WebPages
import graft.pipeline.{NearDupPipeline, ParquetTableIO}

/** `pipeline_fresh`: one operation is a fresh `NearDupPipeline.run` into an
  * empty workDir over a generated pages corpus, then [[ResumeRuns]] resume
  * runs on the same workDir (the second phase reports their median).
  * Checks: dup-pair recall >= 0.99 against brute-force truth pairs of
  * sampled corpus chunks, and the resumes return the fresh run's clusters
  * unchanged. */
final class PipelineFresh(ctx: RunContext) extends Workload {
  import PipelineFresh._

  val name = "pipeline_fresh"
  private val spark = ctx.spark
  val docs: Int = if (ctx.smoke) 400 else 2000
  private val parts = 4
  private val truthChunks = 2
  // one warm-up operation is what the run budget affords; later operations
  // still get faster (2nd ~10 s, 4th ~7.3 s at 4,000 pages)
  val warmupOps: Int = 1

  private var pages: DataFrame = _
  private var truth: DataFrame = _
  private val io = new TableIOCounters
  private var resumeReads = Seq.empty[Double]
  private var tracedOps = 0

  def generate(dir: Path): Unit =
    WebPages.generateDistributed(spark, docs, ctx.seed, parts)
      .write.mode("overwrite").parquet(dir.resolve("pages").toString)

  def prepare(dir: Path): Unit = {
    pages = spark.read.parquet(dir.resolve("pages").toString)
    // the corpus generator's chunks carry all duplicate structure, so the
    // brute-force truth of a few whole chunks is exact for their pairs
    val chunkSize = docs / parts
    val pairs = (0 until truthChunks).flatMap { c =>
      val chunk = WebPages.generate(chunkSize, ctx.seed + c * ChunkSeedStride).map(p =>
        p.copy(url = p.url.replace(".example/p/", s".example/c$c/p/")))
      WebPages.truthPairs(chunk).toSeq.map { case (a, b, _) => (a, b) }
    }
    require(pairs.nonEmpty, "sampled chunks carry no duplicate pairs")
    import spark.implicits._
    truth = org.apache.spark.sql.GraftBridge.materialize(pairs.toDF("url_a", "url_b"))
  }

  private def clustersHash(clusters: DataFrame): (Long, Long) =
    Frames.rowsAndHash(clusters.select("url", "component"))

  def operation(index: Int, traced: Boolean): OpResult = {
    val wd = Files2.fresh(ctx.work.resolve(s"pipeline-op-$index"))
    val cfg = NearDupPipeline.Config(workDir = wd.toString,
      inputSnapshotId = Some(s"perfbench-${ctx.seed}-$docs-$parts"))
    val tracer = ctx.tracer
    def runOnce(phase: String): NearDupPipeline.Result =
      if (traced) {
        val io0 = new ParquetTableIO(spark, wd.toString)
        tracer.rootSpan("workload", s"$name.$phase") {
          val r = NearDupPipeline.run(spark, pages, cfg, new TimedTableIO(io0, tracer, io))
          r.clusters.count()
          r
        }
      } else {
        val r = NearDupPipeline.run(spark, pages, cfg)
        r.clusters.count()
        r
      }
    val (fresh, freshS) = Stats.seconds(runOnce("fresh"))
    val readsBefore = io.reads.sum
    val writesBefore = io.overwrites.sum
    val resumes = (0 until ResumeRuns).map(_ => Stats.seconds(runOnce("resume")))
    val resumed = resumes.last._1

    val problems = Seq.newBuilder[String]
    val recall = NearDupPipeline.recall(fresh.clusters, truth)
    if (!(recall >= 0.99)) problems += f"recall $recall%.4f < 0.99"
    val a = clustersHash(fresh.clusters)
    val b = clustersHash(resumed.clusters)
    if (a != b) problems += s"resume clusters $b differ from fresh $a"
    if (a._1 != docs) problems += s"clusters hold ${a._1} urls, corpus has $docs"
    if (traced) {
      tracedOps += 1
      if (io.overwrites.sum != writesBefore) problems += "resume rewrote a committed stage"
      resumeReads :+= (io.reads.sum - readsBefore).toDouble / ResumeRuns
    }
    Files2.deleteTree(wd)
    val resumeS = resumes.map(_._2)
    OpResult(freshS + resumeS.sum, docs / freshS, Stats.median(resumeS), problems.result())
  }

  /** Storage-layer figures are per traced operation. */
  def layerMetrics(): (Map[String, Double], Seq[String]) = {
    val n = math.max(tracedOps, 1).toDouble
    val pipe = Stages.map(s => s"pipeline.stage.${s}_s" -> io.stageSeconds(s) / n).toMap ++ Map(
      "pipeline.lineage.append_s" -> io.appendNs.sum / 1e9 / n,
      "pipeline.commit_count" -> io.commits.sum / n,
      "pipeline.resume.read_count" -> (if (resumeReads.isEmpty) 0.0 else Stats.median(resumeReads)))
    (pipe ++ new LaneReplica(ctx, pages).run(), Nil)
  }
}

object PipelineFresh {
  val ResumeRuns = 3
  /** `WebPages.generateDistributed`'s per-chunk seed stride. */
  val ChunkSeedStride: Long = 0x9E3779B97F4A7C15L
  val Stages: Seq[String] = Seq("extracted", "edges_exact", "edges_minhash", "edges_simhash",
    "edges_substring", "clusters", "cluster_stats")
}

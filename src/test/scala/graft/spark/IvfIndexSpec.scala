package graft.spark

import graft.core.SplitMix64
import graft.operators.{AnnSearch, IvfIndex}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** IVF coarse-quantizer ANN: recall vs brute-force truth, model
  * determinism, and the nProbe=k exactness property. */
class IvfIndexSpec extends AnyFunSuite with SparkSuiteBase {

  /** Deterministic unit vectors drawn around `nClusters` well-separated
    * cluster directions (web-embedding-shaped data: IVF's use case). */
  private def clusteredVecs(n: Int, dim: Int, nClusters: Int,
                            seed: Long): Seq[(Long, Array[Double])] = {
    def gauss(key: Long): Double = {
      val h1 = SplitMix64.mix(key)
      val h2 = SplitMix64.mix(h1 + 0x9E3779B97F4A7C15L)
      val u1 = ((h1 >>> 11).toDouble + 1.0) / 9007199254740993.0
      val u2 = (h2 >>> 11).toDouble / 9007199254740992.0
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    val centers = (0 until nClusters).map { c =>
      val v = Array.tabulate(dim)(i => gauss(seed ^ (c.toLong << 40) ^ i.toLong))
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    (0 until n).map { id =>
      val c = id % nClusters
      val noise = Array.tabulate(dim)(i => 0.25 * gauss(seed ^ (id.toLong << 16) ^ i.toLong))
      val v = centers(c).zip(noise).map { case (a, b) => a + b }
      val norm = math.sqrt(v.map(x => x * x).sum)
      (id.toLong, v.map(_ / norm))
    }
  }

  private def toDf(vecs: Seq[(Long, Array[Double])]) = {
    import spark.implicits._
    vecs.toDF("id", "v")
  }

  test("recall@10 >= 0.9 vs brute force probing a quarter of the cells") {
    val vecs = clusteredVecs(800, 32, 8, 11L)
    val df = toDf(vecs).cache()
    val queries = df.filter(col("id") < 10)
    val cents = IvfIndex.fitCentroids(df, "id", "v", k = 16, iters = 5)

    def topSet(res: org.apache.spark.sql.DataFrame) =
      res.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val exact = topSet(AnnSearch.bruteForceTopK(df, queries, "id", "v", k = 10))
    val ivf = topSet(IvfIndex.topK(df, queries, "id", "v", kNeighbors = 10,
      cents, nProbe = 4))
    val recalls = exact.map { case (q, t) => (ivf.getOrElse(q, Set.empty) & t).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9 (per-query: $recalls)")
    df.unpersist()
  }

  test("nProbe = k degenerates to exact brute-force top-k") {
    val vecs = clusteredVecs(200, 16, 4, 23L)
    val df = toDf(vecs)
    val queries = df.filter(col("id") < 5)
    val cents = IvfIndex.fitCentroids(df, "id", "v", k = 8, iters = 3)
    val exact = AnnSearch.bruteForceTopK(df, queries, "id", "v", k = 7)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ivf = IvfIndex.topK(df, queries, "id", "v", kNeighbors = 7, cents, nProbe = 8)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == exact)
  }

  test("fit is deterministic across partitionings up to float reduction order") {
    val vecs = clusteredVecs(400, 16, 4, 5L)
    val c1 = IvfIndex.fitCentroids(toDf(vecs).repartition(1), "id", "v", k = 8, iters = 3)
    val c8 = IvfIndex.fitCentroids(toDf(vecs).repartition(8), "id", "v", k = 8, iters = 3)
    c1.zip(c8).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y") }
    }
  }

  test("stored index: search equals the in-plan path, centroids round-trip, unprobed cells pruned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val vecs = clusteredVecs(800, 32, 8, 41L)
    val df = toDf(vecs)
    val queries = df.filter(col("id") < 10)
    val dir = tmpDir("ivf")
    val io = new graft.pipeline.ParquetTableIO(spark, dir)
    val cents = IvfIndex.buildStored(df, "id", "v", k = 16, io, "ivf_index", iters = 3)

    val reloaded = IvfIndex.loadCentroids(io, "ivf_index")
    cents.zip(reloaded).foreach { case (a, b) => assert(a.sameElements(b)) }

    val stored = IvfIndex.topKStored(io, "ivf_index", queries, "id", "v",
      kNeighbors = 10, reloaded, nProbe = 4)
    val inPlan = IvfIndex.topK(df, queries, "id", "v", kNeighbors = 10, cents, nProbe = 4)
    def s(res: org.apache.spark.sql.DataFrame) =
      res.select("query_id", "neighbor_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(s(stored) == s(inPlan), "stored-index search diverges from the in-plan path")

    // the stored scan must carry the static cell predicate as a PARTITION
    // filter — pruning happens at file listing, not post-scan
    val exec0 = stored.queryExecution.executedPlan
    val exec = exec0 match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    val scans = exec.collect { case f: FileSourceScanExec => f }
    val idxScan = scans.find(_.relation.partitionSchema.fieldNames.contains("cell"))
    assert(idxScan.isDefined, s"no cell-partitioned scan in plan:\n$exec")
    assert(idxScan.get.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"cell predicate not pushed to partition pruning: ${idxScan.get.partitionFilters}")
  }

  test("Lloyd round aggregates map-side under ObjectHashAggregate (plan check)") {
    // the fit's per-round mean must be the fixed-width (dim-sums, count)
    // partial aggregate — one ObjectHashAggregate pair, never a
    // posexplode'd corpus x dim row shuffle
    val vecs = clusteredVecs(200, 16, 4, 53L)
    val df = toDf(vecs)
    val cents = IvfIndex.fitCentroids(df, "id", "v", k = 8, iters = 0)
    val round = IvfIndex.lloydRoundPlanForTest(df, "id", "v", cents)
    round.collect()
    // string match: AQE query-stage wrappers hide children from collect()
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"no ObjectHashAggregate in Lloyd round plan:\n$plan")
    assert(plan.contains("partial_vecsumagg"),
      s"no map-side partial aggregation in Lloyd round plan:\n$plan")
    assert(!plan.contains("Generate"), s"Lloyd round still explodes rows:\n$plan")
  }

  test("assign covers every vector and only fitted cells") {
    val vecs = clusteredVecs(300, 16, 4, 37L)
    val df = toDf(vecs)
    val cents = IvfIndex.fitCentroids(df, "id", "v", k = 8, iters = 2)
    val cells = IvfIndex.assign(df, "v", cents)
    assert(cells.count() == 300)
    val range = cells.select("cell").distinct().collect().map(_.getInt(0))
    assert(range.forall(c => c >= 0 && c < 8))
  }
}

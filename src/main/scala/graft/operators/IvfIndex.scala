package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor index: a deterministic
  * k-means coarse quantizer partitions the corpus into `k` cells; a query
  * probes only its `nProbe` nearest cells. This is the centroid-partitioned
  * scale path next to `AnnSearch.nearDupPairs`' sign-LSH one: at 10^12
  * vectors the corpus is scanned ONCE for cell assignment (map-only against
  * broadcast centroids — `cell` is the natural bucketing/partition key for
  * the stored table), and each query touches ~nProbe/k of the data through
  * an equi-join on the cell id — no brute-force scan.
  *
  * Everything is deterministic (hash-seeded init, fixed Lloyd rounds) so
  * results are reproducible across runs and parallelism — the same
  * discipline as the sketch/LSH lanes. (Float-sum reduction order in the
  * centroid means can differ in final ulps across partitionings; only
  * vectors exactly on a cell boundary could flip, so consumers assert
  * recall with margin, not exact cell ids.)
  */
/** Fixed-width Lloyd-round partial: per cell, (element-wise vector sum,
  * member count). The aggregation buffer is one dim-length array + a long,
  * so a Lloyd round's shuffle carries at most k such partials PER PARTITION
  * (ObjectHashAggregate partial+final — the same map-side discipline as
  * every sketch aggregate) instead of corpus x dim exploded rows.
  * Top-level (not nested private) so the codegen'd encoder can reach the
  * constructor and accessors. */
private[graft] final case class VecSum(vsum: Array[Double], n: Long)

object IvfIndex {

  /** Index of the centroid with the highest cosine to `v`. */
  private[graft] def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestCos = -2.0
    var c = 0
    while (c < cents.length) {
      val cos = AnnSearch.cosineKernel(v, cents(c))
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  /** Indices of the `n` highest-cosine centroids (descending). */
  private[graft] def nearestCells(v: Array[Double], cents: Array[Array[Double]],
                                      n: Int): Array[Int] =
    cents.indices
      .map(c => (AnnSearch.cosineKernel(v, cents(c)), c))
      .sortBy { case (cos, c) => (-cos, c) }
      .take(math.min(n, cents.length))
      .map(_._2)
      .toArray

  private class VecSumAgg
      extends org.apache.spark.sql.expressions.Aggregator[Array[Double], VecSum, VecSum] {
    override def zero: VecSum = VecSum(Array.emptyDoubleArray, 0L)
    override def reduce(b: VecSum, v: Array[Double]): VecSum = {
      if (b.n == 0L) VecSum(v.clone(), 1L)
      else {
        val s = b.vsum
        // IVF is a fixed-dimension structure; a mixed-dim corpus must fail
        // loudly here, not with an index crash mid-sum
        require(s.length == v.length,
          s"corpus vector dimension ${v.length} != ${s.length}: " +
            "IvfIndex requires a fixed-dimension embedding column")
        var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
        VecSum(s, b.n + 1L)
      }
    }
    override def merge(a: VecSum, b: VecSum): VecSum =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else {
        require(a.vsum.length == b.vsum.length,
          s"corpus vector dimension ${b.vsum.length} != ${a.vsum.length}: " +
            "IvfIndex requires a fixed-dimension embedding column")
        var i = 0
        while (i < b.vsum.length) { a.vsum(i) += b.vsum(i); i += 1 }
        VecSum(a.vsum, a.n + b.n)
      }
    override def finish(r: VecSum): VecSum = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
    override def outputEncoder: org.apache.spark.sql.Encoder[VecSum] =
      org.apache.spark.sql.Encoders.product[VecSum]
  }

  /** One Lloyd round as a plan: assign cells against broadcast centroids,
    * then the fixed-width (cell -> dim-sums, count) partial aggregate.
    * Input must already be (id, v:array<double>). Returns the broadcast
    * handle too: the fit loop destroys each round's k x dim centroid copy
    * deterministically instead of leaving it to ContextCleaner GC timing
    * (with a large heap that rarely majors, `iters` stale copies would
    * otherwise coexist in executor memory). */
  private def lloydRound(vecs: DataFrame, cents: Array[Array[Double]])
      : (DataFrame, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    val bc = vecs.sparkSession.sparkContext.broadcast(cents)
    val cellUdf = udf((v: Array[Double]) => nearestCell(v, bc.value))
    val vecSum = udaf(new VecSumAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    val df = vecs
      .withColumn("cell", cellUdf(col("v")))
      .groupBy("cell")
      .agg(vecSum(col("v")).as("s"))
      .select(col("cell"), col("s.vsum").as("sum"), col("s.n").as("n"))
    (df, bc)
  }

  /** Test seam: the single-round aggregation plan, for the
    * ObjectHashAggregate / no-explode plan assertion in IvfIndexSpec. */
  private[graft] def lloydRoundPlanForTest(corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[Array[Double]]): DataFrame =
    lloydRound(corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")), cents)._1

  /** Fit the coarse quantizer. Returns centroids as a driver-side model
    * (k x dim doubles — tiny; this is the one legitimate driver-side
    * collect: the fitted MODEL, never the data).
    *
    * Deterministic: init picks the k vectors with the smallest
    * `xxhash64(id)` (a seeded uniform sample, stable under partitioning);
    * then `iters` fixed Lloyd rounds, each a single distributed pass —
    * assignment is a compiled UDF over broadcast centroids, and the new
    * means come from the [[VecSumAgg]] fixed-width partial aggregate
    * (map-side combine; only k (dim-sums, count) rows reach the driver per
    * round, never exploded corpus x dim rows — at 10^12 vectors the old
    * posexplode round shuffled corpus x dim rows per iteration). Cells
    * that lose all members keep their previous centroid. */
  def fitCentroids(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                   iters: Int = 5): Array[Array[Double]] = {
    require(k > 0 && iters >= 0)
    // cached for the duration of the fit: init + every Lloyd round scans it
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")).persist()
    try {
      var cents: Array[Array[Double]] = vecs
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(k)
        .collect()
        .map(_.getSeq[Double](1).toArray)
      var it = 0
      while (it < iters) {
        val (round, bc) = lloydRound(vecs, cents)
        val rows = round.collect()
        // non-blocking: the round is done with the broadcast; the blocking
        // destroy() waited for cluster-wide removal once per Lloyd round
        // for no correctness benefit. unpersist(false) drops executor
        // copies asynchronously and the ContextCleaner destroys the
        // driver-side remainder when `bc` goes unreferenced (the same
        // lifecycle the materialized-RDD blocks use).
        bc.unpersist(blocking = false)
        val next = cents.map(_.clone())
        rows.foreach { r =>
          val cell = r.getInt(0)
          val sums = r.getSeq[Double](1)
          val n = r.getLong(2)
          require(sums.length == next(cell).length,
            s"corpus vector has dimension ${sums.length} != ${next(cell).length} (quantizer dim): " +
              "IvfIndex requires a fixed-dimension embedding column")
          if (n > 0) {
            val m = new Array[Double](sums.length)
            var i = 0
            while (i < m.length) { m(i) = sums(i) / n; i += 1 }
            next(cell) = m
          }
        }
        cents = next
        it += 1
      }
      cents
    } finally vecs.unpersist(false)
  }

  /** Cell assignment for the corpus: every column preserved, plus the
    * `cell` of `vecCol`. At scale this is what you bucket/partition the
    * stored index table by. */
  def assign(corpus: DataFrame, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(centroids)
    val cellUdf = udf((v: Array[Double]) => nearestCell(v, bc.value))
    corpus.withColumn("cell", cellUdf(col(vecCol).cast("array<double>")))
  }

  /** Fingerprint the stored-index commit carries (quantizer config + dim):
    * a consumer resuming against the stored table can tell whether it was
    * built by the quantizer it expects. */
  private def indexFingerprint(k: Int, iters: Int, dim: Int): String =
    s"ivf-v1|k=$k|iters=$iters|dim=$dim"

  /** Fit + PERSIST the index through `io` (the 10^12-vector path): the
    * assigned corpus is written partitioned by `cell` — the probe join's
    * pruning key — and the k x dim centroid model as a sibling
    * `<table>_centroids` table, both committed under the quantizer
    * fingerprint. Search then runs from the stored table via
    * [[topKStored]] without ever re-running assignment. Returns the
    * fitted centroids. */
  def buildStored(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
                  io: graft.pipeline.TableIO, table: String,
                  iters: Int = 5): Array[Array[Double]] = {
    val cents = fitCentroids(corpus, idCol, vecCol, k, iters)
    val fp = indexFingerprint(k, iters, cents.head.length)
    val assigned = assign(
      corpus.select(col(idCol).cast("long").as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv")),
      "cv", cents)
    io.overwrite(table, assigned, partitionBy = Seq("cell"))
    io.commit(table, fp)
    val spark = corpus.sparkSession
    import spark.implicits._
    io.overwrite(s"${table}_centroids",
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid"))
    io.commit(s"${table}_centroids", fp)
    cents
  }

  /** Reload the centroid model of a stored index (k x dim — tiny). */
  def loadCentroids(io: graft.pipeline.TableIO, table: String): Array[Array[Double]] =
    io.read(s"${table}_centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Top-k search against a STORED index. Probe cells are computed on the
    * driver from the small-by-contract query set, so the index scan
    * carries a STATIC `cell IN (...)` predicate — parquet partition
    * pruning drops unprobed cells at file listing and the scan reads
    * ~nProbe/k of the corpus (plan-asserted in IvfIndexSpec). Assignment
    * work is never repeated per query, unlike [[topK]], which assigns the
    * in-memory corpus on every call. */
  def topKStored(io: graft.pipeline.TableIO, table: String, queries: DataFrame,
                 idCol: String, vecCol: String, kNeighbors: Int,
                 centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val probeRows = qRows.toSeq.flatMap { case (qid, qv) =>
      nearestCells(qv, centroids, nProbe).map(c => (qid, qv.toSeq, c))
    }
    val probedCells = probeRows.map(_._3).distinct
    val q = probeRows.toDF("query_id", "qv", "cell")
    val cells = io.read(table).filter(col("cell").isin(probedCells: _*))
    AnnSearch.topKByCosine(
      cells.join(q, "cell").filter(col("query_id") =!= col("neighbor_id")), kNeighbors)
  }

  /** Approximate top-k neighbors for each query vector.
    * @return (query_id, neighbor_id, cos, rnk) with rnk in 1..kNeighbors —
    *         same shape as `AnnSearch.bruteForceTopK`, so recall is a
    *         direct set comparison. */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
           kNeighbors: Int, centroids: Array[Array[Double]],
           nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val probesUdf = udf((v: Array[Double]) => nearestCells(v, bc.value, nProbe))

    // one assignment implementation: the stored-index path and the search
    // path must agree on the cell function
    val cells = assign(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("cv")),
      "cv", centroids)
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probesUdf(col("qv"))))
    AnnSearch.topKByCosine(
      cells.join(q, "cell").filter(col("query_id") =!= col("neighbor_id")), kNeighbors)
  }
}

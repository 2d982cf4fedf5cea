package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.{materialize, materializeCounting}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list via iterative
  * min-label propagation DataFrame self-joins (the north rule's
  * "connected-components clustering via iterative DataFrame self-joins").
  * Converges in O(cluster diameter) rounds — dedup edge sets are near-clique
  * per duplicate group, so diameter is tiny (1-3); for general graphs with
  * long chains swap in the large-star/small-star rewrite (Kiveris et al.,
  * SOCC'14), which this structure accommodates.
  *
  * Each iteration is two narrow (id, label) shuffles; convergence is
  * detected by an aggregate checksum instead of a full diff (one cheap
  * action per round). `GraftBridge.materialize` truncates lineage so
  * plans stay O(1) per iteration instead of growing exponentially — on a
  * real cluster with a checkpoint dir, swap for `checkpoint()` (reliable)
  * to also get executor-failure resilience.
  */
object ConnectedComponents {

  /** Round bound of the distributed propagation loop (phase 3). */
  val MaxIterations = 50

  /** @param edges DataFrame with two long columns (src, dst)
    * @return (id, component) — component = min id reachable
    *
    * The input may repeat an edge, in either direction (the pipeline
    * hands over the union of its lanes' edges): the union-find and the
    * contraction are both insensitive to it. A list within
    * `localFinishMaxEdges` rows goes to the driver union-find (phase 2) as
    * it is; a longer one is deduplicated first, and its distinct count
    * decides between phase 2 and the contraction.
    *
    * Three phases:
    *  1. STAR CONTRACTION (distributed): l0(id) = min(id ∪ neighbors);
    *     edges are relabeled through l0 and deduped. Dedup graphs are
    *     hub-star shaped with min-id hubs (PairGen stars, ExactDedup
    *     star edges, near-clique dup groups), so this one pass shrinks the
    *     graph by orders of magnitude — min-hub stars and cliques contract
    *     to NOTHING; what survives is only cross-bucket chaining.
    *  2. If the contracted residual fits `localFinishMaxEdges`, finish with
    *     a driver-side union-find (micro-seconds) and broadcast the tiny
    *     label→component map back. This removes the per-iteration job
    *     latency that otherwise dominates the stage wall — the fixed
    *     driver-side cost that caps strong-scaling efficiency. The bound
    *     keeps it safe: the union-find uses primitive arrays + an
    *     open-addressed index, ~64B/edge transient at the 4M default
    *     (≈256MB peak, dominated by the collected tuples; measured dedup
    *     residuals are orders of magnitude smaller). A 10^12-doc corpus
    *     whose residual exceeds the bound falls through to phase 3
    *     untouched.
    *  3. Otherwise: distributed min-label propagation + pointer jumping on
    *     the contracted graph until the label-sum checksum fixpoint.
    */
  def run(edges: DataFrame, srcCol: String = "id_a", dstCol: String = "id_b",
          localFinishMaxEdges: Long = 4000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // undirected symmetric closure; self-loops dropped, narrow (long, long)
    val (e0, e0Count, _) = materializeCounting(
      edges.select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
        .filter($"u" =!= $"v"))

    // SMALL-GRAPH FAST PATH: when the whole input already fits the driver
    // union-find bound, skip the contraction phases entirely — the star
    // contraction exists to SHRINK a graph that is too big to collect, and
    // for a small graph its ~4 extra blocking job boundaries are pure
    // scheduler-latency overhead (the Amdahl-S term; r3 measured them
    // amplified 13x under host pressure on a 500-edge input). e0's row
    // count, taken by its materialization pass, decides; the count is
    // exact, so the collect in localFinish stays bounded. A 10^12-doc
    // corpus takes the contraction path untouched.
    if (e0Count <= localFinishMaxEdges) {
      if (e0Count == 0) {
        // no edges: empty (id, component) — callers left-join singletons in
        e0.select($"u".as("id"), $"v".as("component"))
      } else localFinish(spark, e0)
    } else {
      // over the bound, count distinct undirected edges: repeats (up to
      // one per pipeline lane, in either direction) must not push a graph
      // that fits the union-find onto the contraction path. The shuffle is
      // paid on this path only.
      val (e, eCount, _) = materializeCounting(
        e0.select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v")).distinct())
      if (eCount <= localFinishMaxEdges) localFinish(spark, e)
      else contract(spark, e, localFinishMaxEdges)
    }
  }

  /** Phases 1 and 3 (and 2 on the contracted residual) over a distinct,
    * non-empty edge list (u, v). */
  private def contract(spark: SparkSession, e0: DataFrame,
                       localFinishMaxEdges: Long): DataFrame = {
    import spark.implicits._
    // phase 1: one-hop min labels, then contract
    val (l0, _, _) = minLabels(e0)
    val (e1, e1Count, _) = materializeCounting(
      e0.join(l0.withColumnRenamed("id", "u").withColumnRenamed("label", "lu"), "u")
        .join(l0.withColumnRenamed("id", "v").withColumnRenamed("label", "lv"), "v")
        .select($"lu".as("u"), $"lv".as("v"))
        .filter($"u" =!= $"v")
        .distinct())

    if (e1Count == 0) {
      // every star was a whole component — no phase 2/3 work at all
      l0.select($"id", $"label".as("component"))
    } else {
      val contracted =
        if (e1Count <= localFinishMaxEdges) localFinish(spark, e1)
        else iterate(e1)
      // compose: component(id) = component(l0(id)) in the contracted graph,
      // or l0(id) itself when its star was already a whole component
      l0.join(contracted.withColumnRenamed("id", "lid").withColumnRenamed("component", "comp"),
          $"label" === $"lid", "left")
        .select($"id", coalesce($"comp", $"label").as("component"))
    }
  }

  /** Driver-side union-find over a SMALL contracted edge set (bounded by
    * `localFinishMaxEdges` — the caller guarantees the collect is small).
    * Deterministic: component = min node id, independent of edge order.
    * All driver structures are primitive arrays + one open-addressed
    * long->int index (no boxed Longs/tuples beyond the transient collect),
    * so the bound's footprint really is O(edges * 16 bytes).
    * Returned as a LocalRelation so Catalyst sizes it exactly and the
    * compose join broadcasts. */
  private def localFinish(spark: SparkSession, e1: DataFrame): DataFrame = {
    import spark.implicits._
    val es = e1.select($"u", $"v").as[(Long, Long)].collect()
    val maxNodes = es.length * 2
    // open-addressed hash index node-id -> dense index (power-of-two table,
    // linear probing; EMPTY = -1). A java.util.HashMap[Long, Int] here is a
    // Scala trap — get() unboxes a miss to 0, aliasing every new node to
    // index 0 — and a [Long, Integer] map boxes every key.
    val tabCap = math.max(16, Integer.highestOneBit(maxNodes) * 4)
    val tabMask = tabCap - 1
    val tabKey = new Array[Long](tabCap)
    val tabVal = new Array[Int](tabCap)
    java.util.Arrays.fill(tabVal, -1)
    val ids = new Array[Long](math.max(1, maxNodes))
    var nIds = 0
    def nodeIdx(id: Long): Int = {
      var p = (graft.core.SplitMix64.mix(id) & tabMask).toInt
      while (true) {
        val v = tabVal(p)
        if (v == -1) {
          tabKey(p) = id; tabVal(p) = nIds; ids(nIds) = id; nIds += 1
          return nIds - 1
        }
        if (tabKey(p) == id) return v
        p = (p + 1) & tabMask
      }
      -1 // unreachable
    }
    val parent = new Array[Int](math.max(1, maxNodes))
    var i = 0
    while (i < parent.length) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < es.length) {
      val (u, v) = es(i)
      val ru = find(nodeIdx(u))
      val rv = find(nodeIdx(v))
      if (ru != rv) parent(ru) = rv
      i += 1
    }
    // min node id per root, then (node, minOfRoot) rows
    val minOf = new Array[Long](math.max(1, nIds))
    java.util.Arrays.fill(minOf, Long.MaxValue)
    i = 0
    while (i < nIds) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](nIds)
    i = 0
    while (i < nIds) { out(i) = (ids(i), minOf(find(i))); i += 1 }
    // tiny maps ride in the plan as an exactly-sized LocalRelation (compose
    // join broadcasts); larger ones go through parallelize so a multi-MB
    // row set never bloats the serialized plan
    if (out.length <= 100000) spark.createDataFrame(out.toSeq).toDF("id", "component")
    else spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, math.max(1, out.length / 500000)))
      .toDF("id", "component")
  }

  /** One-hop min labels over the symmetric closure of (u, v):
    * (id, least(min neighbor, id)), materialized and counted. */
  private def minLabels(e: DataFrame) = materializeCounting(
    e.select(col("u").as("id"), col("v").as("nbr"))
      .union(e.select(col("v").as("id"), col("u").as("nbr")))
      .groupBy("id").agg(least(min("nbr"), first("id")).as("label")))

  /** Min-label propagation + pointer jumping to fixpoint over (u, v). */
  private def iterate(e0: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val (labels0, labelRows, _) = minLabels(e0)

    var labels = labels0
    var converged = labelRows == 0
    var iter = 0
    var lastSum: java.math.BigDecimal = null
    while (!converged && iter < MaxIterations) {
      val tIter = System.nanoTime()
      // pointer jumping (path halving): label <- label(label); labels are
      // node ids and every labelled node has its own row, so the self-join
      // compresses label chains exponentially, fused with one propagation
      // round (min over own label ∪ least(lu, lv) of incident edges)
      val jumped = labels.as("x")
        .join(labels.select($"id".as("jid"), $"label".as("jlabel")),
          $"label" === $"jid", "left")
        .select($"id", coalesce($"jlabel", $"label").as("label"))
      val viaEdges = e0
        .join(jumped.withColumnRenamed("id", "u").withColumnRenamed("label", "lu"), "u")
        .join(jumped.withColumnRenamed("id", "v").withColumnRenamed("label", "lv"), "v")
        .select($"u", $"v", least($"lu", $"lv").as("m"))
      val next = materialize(
        viaEdges.select($"u".as("id"), $"m".as("cand"))
          .union(viaEdges.select($"v".as("id"), $"m".as("cand")))
          .union(jumped.select($"id", $"label".as("cand")))
          .groupBy("id").agg(min("cand").as("label")))

      // labels only decrease; the label sum (38-digit decimal — 64-bit ids
      // would overflow an ANSI bigint sum) strictly decreases until fixpoint
      val labelSum = next
        .agg(sum($"label".cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .first().getDecimal(0)
      converged = lastSum != null && labelSum.compareTo(lastSum) == 0
      lastSum = labelSum
      labels = next
      iter += 1
      if (sys.env.contains("GRAFT_STAGE_TIMING"))
        System.err.println(f"[graft-cc] iter=$iter sum=$labelSum sec=${(System.nanoTime() - tIter) / 1e9}%.2f")
    }
    if (sys.env.contains("GRAFT_STAGE_TIMING"))
      System.err.println(s"[graft-cc] converged after $iter iterations")
    labels.withColumnRenamed("label", "component")
  }

  /** Convenience: cluster assignment including singleton docs.
    * @return (id, component) for every id in `allIds` */
  def clustersWithSingletons(allIds: DataFrame, idCol: String, edges: DataFrame,
                             srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    val comps = run(edges, srcCol, dstCol)
    allIds.select(col(idCol).cast("long").as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Incremental clustering: fold an admitted batch into an EXISTING
    * cluster assignment without touching corpus pairs or corpus rows.
    *
    * The corpus contracts to its component labels (connectivity-preserving:
    * an edge to any member is an edge to the component), so CC runs over a
    * BATCH-SIZED graph — nodes are the batch ids plus the touched labels
    * only. Because each existing label is the min id of its corpus
    * component, the merged component's min over (batch ids, touched
    * labels) IS the global min-id label, and the result is row-identical
    * to a full recompute over corpus ∪ batch (IncrementalNearDupSpec pins
    * the property; the q_incremental_clusters oracle re-derives it in SQL).
    *
    * Returns:
    *  - `assign`: (id, component) for every batch doc (novel isolated docs
    *    label themselves);
    *  - `mergeMap`: (component, new_component) for the EXISTING labels a
    *    batch path relabeled — merge events (a batch doc bridging two
    *    corpus clusters) land here instead of forcing a 10^12-row corpus
    *    rewrite: readers compose this (tiny, batch-bounded) map lazily,
    *    and compaction folds it in whenever the table is rewritten anyway.
    *
    * `clusters` is only probed for the labels of docs in `crossPairs` —
    * an equi-join a bucketed/sorted cluster table serves with no corpus
    * shuffle. */
  def incrementalAssign(clusters: DataFrame, batchIds: DataFrame,
                        crossPairs: DataFrame, batchPairs: DataFrame,
                        idCol: String = "id"): (DataFrame, DataFrame) = {
    val ids = batchIds.select(col(idCol).cast("long").as("id"))
    // rewrite batch→corpus-member pairs to batch→label edges
    val labelEdges = crossPairs
      .select(col("new_id").cast("long").as("id_a"),
        col("corpus_id").cast("long").as("id"))
      .join(clusters.select(col("id"), col("component")), "id")
      .select(col("id_a"), col("component").as("id_b"))
    val touched = labelEdges.select(col("id_b").as("id")).distinct()
    val nodes = ids.unionByName(touched).distinct()
    val comp = clustersWithSingletons(nodes, "id",
      batchPairs.select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
        .unionByName(labelEdges))
    val assign = comp.join(ids, Seq("id"), "left_semi")
    val mergeMap = comp.join(touched, Seq("id"), "left_semi")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("component"), col("component").as("new_component"))
    (assign, mergeMap)
  }

  /** Per-cluster COHESION audit — the QA face of transitive clustering.
    * Connected components are closed under CHAINS: a~b and b~c put a and c
    * in one cluster even when J(a,c) is far below the lane threshold, and
    * at web scale this is exactly how template families snowball into
    * mega-clusters that retire too much (the known pathology of
    * LSH+CC dedup). For each non-singleton cluster this audits the
    * pairwise exact similarity of its `auditK` SMALLEST member ids and
    * reports `(component, size, pairs_checked, pairs_below, min_j)`:
    * `pairs_below` counts audited pairs under the threshold — direct
    * evidence of chaining — and `min_j` is the weakest audited link.
    *
    * Scale shape: the audit set per cluster is a bounded MinN aggregate
    * (a 10^7-member template cluster costs the same ≤ K(K-1)/2 pairs as a
    * K+1-member one; no window ever sorts a hot cluster), pair texts are
    * fetched by equi-join on the ≤ K·clusters audited ids, and the verify
    * kernel is the lane's own exact Jaccard. Deterministic: smallest-K
    * membership is a pure function of the cluster, min/count aggregates
    * are order-free, and the per-pair ratio divides the same shingle
    * integers the verify lane divides.
    *
    * Caller contract: `texts` must cover every audited member id with a
    * non-null text — the audit joins INNER (a member with no text row
    * drops its pairs from the report, shrinking `pairs_checked` rather
    * than failing loudly), matching every other lane's "clusters were
    * derived from this corpus" assumption. */
  def cohesionAudit(clusters: DataFrame, texts: DataFrame, idCol: String,
                    textCol: String, threshold: Double,
                    auditK: Int = 10): DataFrame = {
    require(auditK >= 2, s"auditK must be >= 2, got $auditK")
    val minN = FixedSample.minN(new FixedSample.MinNPairAgg(auditK))
    // clusters carry the CC output contract (id, component); idCol/textCol
    // name the TEXT table's columns
    val cl = clusters.select(col("component").cast("long").as("component"),
      col("id").cast("long").as("id"))
    val audited = cl.groupBy("component")
      .agg(count(lit(1)).as("size"), minN(col("id"), col("id")).as("members"))
      .filter(col("size") >= 2)
    val m = audited.select(col("component"), col("size"),
      posexplode(col("members")).as(Seq("pos", "mid")))
    val pairs = m.as("a").join(m.as("b"),
        col("a.component") === col("b.component") && col("a.pos") < col("b.pos"))
      .select(col("a.component").as("component"), col("a.size").as("size"),
        col("a.mid").as("id_a"), col("b.mid").as("id_b"))
    val t = texts.select(col(idCol).cast("long").as("_tid"), col(textCol).as("_t"))
    pairs
      .join(t.withColumnRenamed("_tid", "id_a").withColumnRenamed("_t", "t_a"), "id_a")
      .join(t.withColumnRenamed("_tid", "id_b").withColumnRenamed("_t", "t_b"), "id_b")
      .withColumn("j", graft.spark.GraftFunctions.call("jaccard_shingles", col("t_a"), col("t_b")))
      .groupBy("component", "size")
      .agg(count(lit(1)).as("pairs_checked"),
        sum(when(col("j") < threshold, 1L).otherwise(0L)).as("pairs_below"),
        min(col("j")).as("min_j"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge.{materialize, materializeCounting}
import org.apache.spark.sql.functions._

/** Host-graph PageRank as iterative DataFrame self-joins — the link-quality
  * signal a web-scale training-data pipeline weights documents by (e.g.
  * host-rank-bucketed sampling à la C4/CCNet quality tiers), and the same
  * iterative-join pattern the north star names for clustering.
  *
  * ALL-INTEGER arithmetic: ranks are carried as int64 fixed-point at
  * [[Scale]]. Integer sums are order-free and integer division is identical
  * on every engine, so the fixpoint iterate is byte-identical under any
  * partitioning, any merge order, and across Spark/DuckDB — which makes a
  * 4-iteration run exactly SQL-oracle-checkable (q_host_rank unrolls the
  * same iterate as chained CTEs). Float PageRank would differ at the ulp
  * per aggregation order and be un-hashable across engines.
  *
  * The iterate (damping d = 85/100, N = |nodes appearing in edges|):
  *   r0        = Scale div N
  *   base      = (15 * r0) div 100
  *   r_{k+1}(v)= base + (85 * sum_{u->v} (r_k(u) div outdeg(u))) div 100
  * Dangling mass (nodes with no outlinks) is dropped, the common
  * simplification — mirrored exactly in the oracle.
  *
  * Scale shape (10^8-host graph from a 10^12-doc crawl):
  *  - `edges` is distinct (src,dst) — narrow string pairs; outdeg is one
  *    groupBy over it, computed once.
  *  - Each iteration is one shuffle-on-src join (rank × edges) + one
  *    shuffle-on-dst sum. In production the edge table is bucketed by src
  *    so the join side of every iteration is exchange-free; ranks (the
  *    small, changing side) alone shuffle per round.
  *  - `GraftBridge.materialize` truncates lineage each round: without it,
  *    iteration k replans/re-executes all k-1 predecessors and the plan
  *    tree grows exponentially in optimizer time.
  *  - The only driver-side values are scalar counts (N), never rows.
  */
object HostRank {

  /** Fixed-point unit of a rank, shared by [[run]] and [[oracleSql]]. */
  val Scale = 1000000000000L

  def run(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val e = materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val (nodes, n, _) = materializeCounting(
      e.select(col("src").as("host")).union(e.select(col("dst").as("host"))).distinct())
    require(n > 0, "empty graph")
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    val outdeg = materialize(e.groupBy("src").agg(count(lit(1)).as("deg")))
    var ranks = nodes.withColumn("rank", lit(r0))
    for (i <- 1 to iters) {
      val contrib = e
        .join(ranks.join(outdeg, col("host") === col("src")).select(
          col("host").as("u"), expr("rank div deg").as("c")),
          col("src") === col("u"))
        .groupBy(col("dst").as("host")).agg(sum("c").as("s"))
      val next = nodes
        .join(contrib, Seq("host"), "left")
        .select(col("host"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
      // materialize every OTHER round (and the last): each materialize is a
      // blocking job, and one unmaterialized round only doubles the plan
      // depth — halves the fixed per-round job latency without unbounded
      // plan growth. Values are identical (materialization is transparent).
      ranks = if (i % 2 == 0 || i == iters) materialize(next) else next
    }
    ranks
  }

  /** HITS (Kleinberg hubs/authorities) over the same host graph, the
    * complement signal to PageRank: a host can be a poor authority but a
    * good hub (link directory) and vice versa — curation pipelines use the
    * pair to separate content sites from link farms.
    *
    * UNNORMALIZED INTEGER iterate (no per-round L2 normalization): after k
    * rounds auth_k(v) counts alternating-direction paths of length 2k-1
    * into v and hub_k(u) paths of length 2k out of u — pure int64 sums, so
    * like `run` the fixpoint is byte-identical under any partitioning and
    * exactly SQL-oracle-checkable as chained CTEs. Normalization is a
    * presentation-time division the caller applies to the final row set
    * (rank order is already normalization-invariant). Values grow like
    * (d_out*d_in)^k, so keep iters small (2-3) or pre-scale: with int64
    * headroom ~9.2e18 a 10^8-host graph with mean degree 100 overflows
    * around k=4 — the iterate `require`s iters <= 3.
    *
    * Scale shape: identical to `run` — distinct narrow edges computed
    * once, each half-round is one shuffle-on-key join + one sum; the
    * small score side alone shuffles per round when edges are bucketed.
    *
    * Rounds: hub_0 = 1 on every node; round k is
    *   auth_k(v) = sum_{u->v} hub_{k-1}(u)
    *   hub_k(u)  = sum_{u->v} auth_k(v)
    * Returns (host, auth, hub) after `iters` rounds; nodes with no
    * in-edges carry auth 0, no out-edges hub 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 3, "iters must be in [1, 3] (int64 headroom)")
    val e = materialize(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val nodes = materialize(
      e.select(col("src").as("host")).union(e.select(col("dst").as("host"))).distinct())
    var hub = nodes.withColumn("hub", lit(1L))
    var auth = nodes.withColumn("auth", lit(0L))
    for (k <- 1 to iters) {
      val a = e.join(hub.withColumnRenamed("host", "src"), "src")
        .groupBy("dst").agg(sum("hub").as("s"))
        .withColumnRenamed("dst", "host")
      // materialize only at the final round (each materialize is a
      // blocking job; iters <= 3 keeps the unmaterialized plan shallow) —
      // the last auth IS referenced twice (hub's input + the result join),
      // so it stays materialized. Values identical.
      val a2 = nodes.join(a, Seq("host"), "left")
        .select(col("host"), coalesce(col("s"), lit(0L)).as("auth"))
      auth = if (k == iters) materialize(a2) else a2
      val h = e.join(auth.withColumnRenamed("host", "dst"), "dst")
        .groupBy("src").agg(sum("auth").as("s"))
        .withColumnRenamed("src", "host")
      val h2 = nodes.join(h, Seq("host"), "left")
        .select(col("host"), coalesce(col("s"), lit(0L)).as("hub"))
      hub = if (k == iters) materialize(h2) else h2
    }
    auth.join(hub, Seq("host"))
  }

  /** The HITS iterate unrolled as chained DuckDB CTEs (same `edgesCte`
    * contract as `oracleSql`); every sum cast back to BIGINT. */
  def hitsOracleSql(edgesCte: String, iters: Int): String = {
    val pre =
      s"""$edgesCte,
         |nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
         |h0 AS (SELECT host, CAST(1 AS BIGINT) AS hub FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""a$k AS (
         |  SELECT n.host, CAST(coalesce(s.s, 0) AS BIGINT) AS auth
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS host, CAST(sum(h.hub) AS BIGINT) AS s
         |    FROM edges e JOIN h${k - 1} h ON h.host = e.src
         |    GROUP BY e.dst) s ON s.host = n.host),
         |h$k AS (
         |  SELECT n.host, CAST(coalesce(s.s, 0) AS BIGINT) AS hub
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.src AS host, CAST(sum(a.auth) AS BIGINT) AS s
         |    FROM edges e JOIN a$k a ON a.host = e.dst
         |    GROUP BY e.src) s ON s.host = n.host)""".stripMargin
    }
    (pre +: rounds).mkString(",\n") +
      s"\nSELECT a.host, a.auth, h.hub FROM a$iters a JOIN h$iters h USING (host) ORDER BY host"
  }

  /** The same iterate as DuckDB SQL: `edgesCte` must OPEN the WITH block
    * and define `edges(src, dst)` already distinct — e.g.
    * `WITH edges AS (SELECT DISTINCT ...)`. Chained CTEs r1..rK unroll the
    * loop — integer-exact, so the driver hash compare is strict equality.
    * Every sum is cast back to BIGINT (DuckDB widens sum(BIGINT) to
    * HUGEINT, which would change the compared schema). */
  def oracleSql(edgesCte: String, iters: Int): String = {
    val pre =
      s"""$edgesCte,
         |nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
         |consts AS (SELECT ($Scale // count(*)) AS r0,
         |                  (15 * ($Scale // count(*))) // 100 AS base FROM nodes),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |r0 AS (SELECT host, (SELECT r0 FROM consts) AS rank FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.host,
         |         CAST((SELECT base FROM consts)
         |           + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS host, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.host = e.src
         |    JOIN outdeg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.host = n.host)""".stripMargin
    }
    (pre +: rounds).mkString(",\n") +
      s"\nSELECT host, rank FROM r$iters ORDER BY host"
  }
}

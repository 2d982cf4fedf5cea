package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConnectedComponents

/** Connected components across its four execution paths: the small-graph
  * fast path (whole input, or its distinct edges, within the union-find
  * bound — skips contraction entirely), contraction-only (residual empty), contraction + driver
  * union-find finish (small residual), and the distributed
  * label-propagation loop (forced via localFinishMaxEdges = 0). Paths are
  * forced by sizing localFinishMaxEdges relative to the input edge count.
  * Truth is a Scala-side union-find over the raw edges. */
class ConnectedComponentsSpec extends AnyFunSuite with SparkSuiteBase {
  import spark.implicits._

  /** Brute-force truth: (id -> min reachable id) via union-find. */
  private def truth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(ru) = rv
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    nodes.map(n => n -> minOf(find(n))).toMap
  }

  private def check(edges: Seq[(Long, Long)], localMax: Long): Unit = {
    val df = edges.toDF("id_a", "id_b")
    val got = ConnectedComponents.run(df, localFinishMaxEdges = localMax)
      .as[(Long, Long)].collect().toMap
    assert(got == truth(edges))
  }

  // whole input within the bound: contraction skipped, one collect decides
  test("small-graph fast path matches truth") {
    val star = (2L to 20L).map(l => (1L, l))
    val chain = (0L until 40L).map(i => (100L + i, 101L + i))
    check(star ++ chain, localMax = 4000000L)
  }

  // min-hub stars and cliques contract to nothing in phase 1 (localMax
  // below the input edge count disables the fast path, so the
  // residual-empty contraction branch is what runs)
  test("stars and cliques: residual-empty contraction path") {
    val star = (2L to 20L).map(l => (1L, l))
    val clique = for (a <- 30L to 36L; b <- (a + 1) to 36L) yield (a, b)
    check(star ++ clique, localMax = 5L)
  }

  // a long path graph survives contraction; localMax sits between the
  // input size (66 edges — fast path off) and the contracted residual
  // (63 edges: one-hop min labels shave exactly one edge per chain plus
  // the isolated pair — union-find finish on)
  test("chains: contraction + driver union-find finish matches truth") {
    val chainA = (0L until 40L).map(i => (100L + i, 101L + i))
    val chainB = (0L until 25L).map(i => (500L + 2 * i, 502L + 2 * i))
    check(chainA ++ chainB ++ Seq((9000L, 9001L)), localMax = 64L)
  }

  test("distributed loop (localFinishMaxEdges = 0) agrees with union-find finish") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.tabulate(300)(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val viaLocal = ConnectedComponents.run(edges.toDF("id_a", "id_b"),
      localFinishMaxEdges = 4000000L).as[(Long, Long)].collect().toMap
    val viaLoop = ConnectedComponents.run(edges.toDF("id_a", "id_b"),
      localFinishMaxEdges = 0L).as[(Long, Long)].collect().toMap
    assert(viaLocal == truth(edges))
    assert(viaLoop == viaLocal)
  }

  // the pipeline hands over the union of its lanes' edges without a
  // distinct: an edge two lanes found arrives twice, in either direction
  test("duplicate edges in both directions: labels equal the deduplicated set's on both paths") {
    val rnd = new scala.util.Random(11)
    val random = Seq.tabulate(200)(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
    val chain = (0L until 30L).map(i => (1000L + i, 1001L + i))
    val star = (2L to 15L).map(l => (2000L, 2000L + l))
    val unique = (random ++ chain ++ star).filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val repeated = rnd.shuffle(unique.flatMap { case (a, b) =>
      Seq.fill(1 + rnd.nextInt(4))(if (rnd.nextBoolean()) (a, b) else (b, a))
    })
    assert(repeated.size > unique.size * 2)
    def labels(edges: Seq[(Long, Long)], localMax: Long) =
      ConnectedComponents.run(edges.toDF("id_a", "id_b"), localFinishMaxEdges = localMax)
        .as[(Long, Long)].collect().toMap
    for (localMax <- Seq(4000000L, 0L)) {
      val want = labels(unique, localMax)
      assert(want == truth(unique), s"localFinishMaxEdges=$localMax")
      assert(labels(repeated, localMax) == want, s"localFinishMaxEdges=$localMax")
    }
  }

  // repeats count against the driver-side bound only until they are
  // deduplicated: a list over the bound whose distinct undirected edges fit
  // it still finishes on the driver (a LocalRelation result), and one
  // distinct edge over the bound contracts
  test("repeated edges over the bound: the distinct count picks the path") {
    val unique = (0L until 40L).map(i => (100L + i, 101L + i)) ++ (2L to 9L).map(l => (1L, l))
    val repeated = unique.flatMap { case (a, b) => Seq((a, b), (b, a), (a, b)) }
    def run(localMax: Long) =
      ConnectedComponents.run(repeated.toDF("id_a", "id_b"), localFinishMaxEdges = localMax)
    val onDriver = run(unique.size.toLong)
    assert(onDriver.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(onDriver.as[(Long, Long)].collect().toMap == truth(unique))
    val contracted = run(unique.size - 1L)
    assert(!contracted.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(contracted.as[(Long, Long)].collect().toMap == truth(unique))
  }

  test("clustersWithSingletons: every id labelled, singletons self-labelled") {
    val all = (1L to 50L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.clustersWithSingletons(all, "id", edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 50)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
    assert((4L to 9L).forall(i => got(i) == i))
  }

  test("cohesionAudit: chain clusters report their sub-threshold links; hot clusters stay bounded") {
    val t60 = (1 to 60).map(i => s"cw$i").mkString(" ")
    // chain: b extends a by 4 tokens, c extends b by 4 more —
    // J(a,b) = 56/60 ≈ 0.93, J(b,c) = 60/64 ≈ 0.94, J(a,c) = 56/64 = 0.875 < 0.9
    val a = (1L, t60)
    val b = (2L, t60 + " x1 x2 x3 x4")
    val c = (3L, t60 + " x1 x2 x3 x4 x5 x6 x7 x8")
    // hot cluster: 40 byte-identical copies — the audit must cap at
    // K(K-1)/2 pairs, never 40*39/2
    val hot = (100L until 140L).map(i => (i, (1 to 60).map(j => s"hd$j").mkString(" ")))
    val docs = (Seq(a, b, c) ++ hot).toDF("doc_id", "text")
    val edges = graft.operators.NgramJaccard.pairs(docs, "doc_id", "text",
      n = 5, threshold = 0.9).select("id_a", "id_b")
    val clusters = ConnectedComponents.clustersWithSingletons(
      docs.select("doc_id"), "doc_id", edges)
    val audit = ConnectedComponents.cohesionAudit(clusters, docs, "doc_id",
        "text", threshold = 0.9, auditK = 10)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // chain cluster: labelled 1, size 3, 3 audited pairs, ONE below, and
    // min_j is exactly the closing pair's ratio
    val (sz, checked, below, minJ) = audit(1L)
    assert(sz == 3 && checked == 3 && below == 1)
    assert(math.abs(minJ - 56.0 / 64.0) < 1e-12)
    // hot cluster: full size reported, audit bounded at 10*9/2 pairs, all 1.0
    val (hsz, hchecked, hbelow, hminJ) = audit(100L)
    assert(hsz == 40 && hchecked == 45 && hbelow == 0 && hminJ == 1.0)
    assert(audit.size == 2) // singletons never audited
  }

  test("mergeIndexes: union of two crawls' indexes == fresh index over the union corpus") {
    val docs = (1L to 30L).map(i => (i, s"doc $i " + (1 to 40).map(j => s"w$i-$j").mkString(" ")))
    val h1 = docs.take(15).toDF("doc_id", "text")
    val h2 = docs.drop(15).toDF("doc_id", "text")
    val merged = graft.operators.MinHashLSH.mergeIndexes(
        graft.operators.MinHashLSH.bandIndex(h1, "doc_id", "text"),
        graft.operators.MinHashLSH.bandIndex(h2, "doc_id", "text"))
      .as[(Long, Int, Long)].collect().toSet
    val fresh = graft.operators.MinHashLSH.bandIndex(
        h1.unionByName(h2), "doc_id", "text")
      .as[(Long, Int, Long)].collect().toSet
    assert(merged == fresh)
    // replayed append (at-least-once) compacts away through the same path
    val doubled = graft.operators.MinHashLSH.mergeIndexes(
        graft.operators.MinHashLSH.bandIndex(h1, "doc_id", "text"),
        graft.operators.MinHashLSH.bandIndex(h1, "doc_id", "text"))
      .as[(Long, Int, Long)].collect().toSet
    assert(doubled == graft.operators.MinHashLSH.bandIndex(h1, "doc_id", "text")
      .as[(Long, Int, Long)].collect().toSet)
  }
}

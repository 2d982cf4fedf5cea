package graft.spark

import graft.operators.{BucketedPairs, ExactDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted, size-capped bucket -> candidate-edge collection: semantics
  * (all-pairs below cap, star above) must be exact, and no aggregation
  * buffer may ever hold a hot bucket. */
class BucketedPairsSpec extends AnyFunSuite with SparkSuiteBase {

  import graft.spark.{CappedIds => CI}

  private def edgesOf(members: Seq[(Long, Long)], cap: Int): Set[(Long, Long)] = {
    import spark.implicits._
    BucketedPairs.edges(members.toDF("k", "id"), Seq("k"), "id", cap)
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("all-pairs semantics below cap, across salt slices") {
    // buckets of sizes 1..9 (all below cap) scattered over keys; salting
    // must not lose cross-slice pairs
    val members = for {
      k <- 0L until 40L
      i <- 0L until (k % 10)
    } yield (k, k * 1000 + i)
    val expected = members.groupBy(_._1).values.flatMap { m =>
      val ids = m.map(_._2).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
    }.toSet
    assert(edgesOf(members, cap = 64) == expected)
    // non-vacuous: buckets really do straddle the operator's 16 salt slices
    import spark.implicits._
    val straddling = members.toDF("k", "id").groupBy("k")
      .agg(countDistinct(pmod(xxhash64(col("id")), lit(16L))).as("slices"))
      .filter(col("slices") > 1).count()
    assert(straddling > 0)
  }

  test("hot bucket (kept-list regime, cap < n <= salt*cap) emits exactly the star") {
    // 300 members with cap 64, salt 16: slices stay under the slice cap, so
    // the star comes straight from the merged kept list — no join-back scan
    val hot = (0L until 300L).map(i => (7L, 100000L + i))
    val small = Seq((8L, 1L), (8L, 2L))
    val got = edgesOf(hot ++ small, cap = 64)
    val star = (1L until 300L).map(i => (100000L, 100000L + i)).toSet
    assert(got == star + ((1L, 2L)), s"got ${got.size} edges")
  }

  test("monster bucket (n > salt*cap, kept list overflows) emits exactly the star via join") {
    val hot = (0L until 10000L).map(i => (7L, 100000L + i))
    val small = Seq((8L, 1L), (8L, 2L))
    val got = edgesOf(hot ++ small, cap = 64)
    val star = (1L until 10000L).map(i => (100000L, 100000L + i)).toSet
    assert(got == star + ((1L, 2L)), s"got ${got.size} edges")
  }

  test("boundary: bucket of exactly cap members still emits all pairs") {
    val members = (0L until 64L).map(i => (1L, i))
    val got = edgesOf(members, cap = 64)
    assert(got.size == 64 * 63 / 2)
  }

  test("incremental probe degrades a bucket only past a salt slice's cap, not past cap members") {
    import spark.implicits._
    val cap = 8
    // the salt slice of each id, as cappedBuckets computes it
    val salt = spark.range(0L, 4000L).select(col("id"), pmod(xxhash64(col("id")), lit(16L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sliceSizes(ids: Seq[Long]): Iterable[Int] = ids.groupBy(salt).values.map(_.size)
    // key 1: 3 x cap postings, at most cap in any slice
    val even = (1000L until 4000L).foldLeft(Vector.empty[Long]) { (kept, id) =>
      if (kept.size < 3 * cap && kept.count(salt(_) == salt(id)) < cap) kept :+ id else kept
    }
    assert(even.size == 3 * cap && sliceSizes(even).max <= cap)
    // key 2: cap + 2 postings in one slice and two in others, 12 in all
    val crowded = (0L until 1000L).filter(salt(_) == 0L).take(cap + 2) ++
      (0L until 1000L).filter(salt(_) != 0L).take(2)
    assert(crowded.size < 3 * cap && sliceSizes(crowded).max > cap)
    val index = (even.map(1L -> _) ++ crowded.map(2L -> _)).toDF("k", "id")
    val probes = Seq((1L, -1L), (2L, -2L)).toDF("k", "new_id")
    val got = BucketedPairs.probeCandidates(index, probes, Seq("k"), "id", "new_id", cap)
      .collect().groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    assert(got(-1L) == even.toSet, "a bucket of 3 x cap postings with no slice over the cap lists them all")
    assert(got(-2L) == Set(crowded.min), "an over-cap slice degrades the bucket to its hub")
  }

  test("pair_combos stays null-safe after the lanes that expand pairs run") {
    // the SQL name is the one table entry the lanes call; it returns NULL
    // for a NULL id array before and after the lanes run
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    assert(ExactDedup.pairs(docs, "doc_id", "text").count() == 1)
    assert(edgesOf(Seq((1L, 1L), (1L, 2L)), cap = 4) == Set((1L, 2L)))
    val r = spark.sql("SELECT pair_combos(CAST(NULL AS ARRAY<BIGINT>), 4)").head()
    assert(r.isNullAt(0))
  }

  test("CappedIds buffer never stores more than cap+1 ids and merges exactly") {
    val cap = 8
    val a = new CI(cap); val b = new CI(cap)
    (1L to 4L).foreach(a.add); (5L to 8L).foreach(b.add)
    a.merge(b)
    assert(a.n == 8 && a.hub == 1 && !a.overflowed)
    assert(a.kept.sorted.toSeq == (1L to 8L))
    // push over the cap: count/min stay exact, list drops
    (9L to 100L).foreach(a.add)
    assert(a.n == 100 && a.hub == 1 && a.overflowed)
    // serialization round-trip of an overflowed buffer keeps (n, hub, overflow)
    val rt = CI.deserialize(a.serialize(), cap)
    assert(rt.n == 100 && rt.hub == 1 && rt.overflowed)
    // merging an overflowed slice poisons the member list but not the stats
    val c = new CI(cap); c.add(200L)
    c.merge(rt)
    assert(c.n == 101 && c.hub == 1 && c.overflowed)
  }

  test("ExactDedup.starEdges: 10^4-member exact-dup group yields O(g) edges") {
    import spark.implicits._
    val docs = ((0L until 10000L).map(i => (i, "the same boilerplate page")) ++
      Seq((20000L, "unique a"), (20001L, "unique b"), (20002L, "unique b")))
      .toDF("doc_id", "text")
    val edges = ExactDedup.starEdges(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.length == 9999 + 1)
    assert(edges.count(_._1 == 0L) == 9999) // hub = min id of the big group
    assert(edges.contains((20001L, 20002L)))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge
import graft.spark.{CappedIdsAgg, CappedIdsMergeAgg, GraftFunctions}

/** Candidate-edge generation from LSH-style bucket membership, skew-safe at
  * web scale (the "salted band-hash keys" collection the north rule names).
  *
  * Input: one row per bucket membership `(key..., id)` — rows must be
  * unique per (key, id). Output: undirected candidate edges `(id_a < id_b)`:
  *
  *   - small buckets (n <= cap): all C(n,2) pairs (complete — downstream
  *     verify decides),
  *   - hot buckets (cap < n <= SaltBuckets*(cap+1), no salt slice over
  *     cap): star edges to the bucket's minimum id, straight from the kept
  *     member list. A hot bucket emits n-1 edges instead of ~n^2/2; the
  *     hub keeps it connected for clustering, and every edge still passes
  *     the lane's verify step,
  *   - monster buckets, where a salt slice holds more than cap members or
  *     the bucket more than SaltBuckets*(cap+1) (e.g. a 10^6-member
  *     soft-404 template): the kept list overflows to (count, min) only,
  *     and star edges come from joining the monster-key list back to the
  *     membership rows — no aggregation buffer ever holds the bucket.
  *
  * Memory/skew structure (vs a plain `groupBy(key).agg(collect_list)`,
  * which materializes the whole bucket in one buffer before any cap):
  * phase 1 aggregates per `(key, salt = xxhash64(id) % SaltBuckets)` with
  * buffers capped at cap+1 ids, so a monster bucket's collection fans out
  * over SaltBuckets reduce tasks; phase 2 merges the (<= SaltBuckets)
  * slices per key keeping at most SaltBuckets*(cap+1) ids — every buffer in
  * both phases is bounded (e.g. 8KB at cap=64).
  *
  * The bucket aggregate is computed ONCE and materialized: its three
  * consumers — kept-pair explode, monster gate, monster-join build side —
  * read the stored blocks. The monster branch is gated driver-side because
  * the join's probe side re-computes the caller's band/probe projection
  * (the expensive minhash/simhash kernel), a cost only corpora with real
  * monster buckets should pay; AQE cannot make that call (empty-relation
  * propagation sees stage row counts, not post-filter emptiness). The gate
  * count is folded INTO the materialization pass as an accumulator
  * (GraftBridge.materializeCounting), so `edges` costs exactly one Spark
  * job at call time — EAGER, but never a second gate job.
  */
object BucketedPairs {

  /** Salt slices per bucket key in phase 1. */
  private val SaltBuckets = 16

  private def cappedIds(c: Column, keep: Int): Column =
    GraftBridge.column(CappedIdsAgg(GraftBridge.expression(c), keep).toAggregateExpression())
  private def cappedIdsMerge(c: Column, keep: Int): Column =
    GraftBridge.column(CappedIdsMergeAgg(GraftBridge.expression(c), keep).toAggregateExpression())

  /** The salted two-phase capped bucket aggregate shared by [[edges]] and
    * the incremental probe lane (MinHashLSH.incrementalNearDupPairs): one
    * row per key tuple with the bounded struct `s = (n, hub, ids)` —
    * `n` the true bucket size, `hub` its minimum id, `ids` the kept member
    * list (NULL exactly when one of the bucket's SaltBuckets salt slices
    * held more than cap members, when the bucket held more than
    * `SaltBuckets*(cap+1)`, or when n < 2; a singleton's lone id IS its
    * hub). Null-keyed rows are dropped (they can't bucket). Whatever the
    * bucket's size, a phase-1 buffer holds at most cap+1 ids and a phase-2
    * buffer at most SaltBuckets*(cap+1) — the skew story from the object
    * doc. */
  def cappedBuckets(members: DataFrame, keyCols: Seq[String], idCol: String,
                    cap: Int): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    val keys = keyCols.map(col)
    // ids are longs end-to-end (CappedIds buffers, PairGen); cast here so an
    // int/short id column from a caller widens once instead of crashing the
    // aggregate's update path
    val id = col(idCol).cast("long")
    // null keys can't bucket; filtering here keeps the (rare) monster join
    // from being the only branch with an isnotnull pushdown
    val rows = members.where(keys.map(_.isNotNull).reduce(_ && _))

    rows
      .groupBy(keys :+ pmod(xxhash64(id), lit(SaltBuckets.toLong)).as("_salt"): _*)
      .agg(cappedIds(id, cap).as("s"))
      .groupBy(keys: _*)
      .agg(cappedIdsMerge(col("s"), SaltBuckets * (cap + 1)).as("s"))
  }

  /** Incremental-probe candidate generation shared by the stored-index
    * dedup tiers (MinHashLSH.incrementalCandidates,
    * SubstringDedup.incrementalPairs; SimHashDedup keeps an inline variant
    * because its index also carries the simhash through the touched set):
    * index postings `(keys..., idCol)` x probe rows `(keys..., probeIdCol)`
    * → distinct `(probeIdCol, corpus_id)` candidates. The index is
    * semi-joined to the batch's distinct keys first — only touched buckets
    * ever aggregate (partition pruning's entry point on a bucketed index
    * table) — then postings collect through [[cappedBuckets]] (every
    * buffer bounded). A touched bucket degrades to its hub only when one
    * of its SaltBuckets (16) salt slices holds more than cap postings or
    * the bucket more than SaltBuckets*(cap+1); below that every posting is
    * a candidate, so an evenly salted bucket of a few times cap postings
    * lists them all.
    *
    * EAGER: the probe side is materialized here, so building (or merely
    * explaining) the frame of any incremental lane that calls this runs
    * Spark jobs at call time. The materialized blocks are local
    * checkpoints: after an executor loss they cannot be recomputed from
    * lineage and the query fails instead (see `GraftBridge.materialize`). */
  def probeCandidates(index: DataFrame, probes0: DataFrame, keyCols: Seq[String],
                      idCol: String, probeIdCol: String, cap: Int): DataFrame = {
    val keys = keyCols.map(col)
    // the probe side is consumed TWICE (touched-bucket semi-join below +
    // the candidate join) and its projection is the caller's signature
    // kernel over the batch (minhash/ICWS/winnow/simhash) — without
    // materialization every incremental lane runs that kernel twice per
    // probe (measured: the ICWS band build alone was 2×2.2 s of
    // q_weighted_incremental's 5 s).
    val probes = GraftBridge.materialize(probes0)
    val touched = index.join(probes.select(keys: _*).distinct(), keyCols, "left_semi")
    val buckets = cappedBuckets(touched, keyCols, idCol, cap)
      .select(keys :+ coalesce(col("s.ids"), array(col("s.hub"))).as("cands"): _*)
    probes.join(buckets, keyCols)
      .select(col(probeIdCol), explode(col("cands")).as("corpus_id"))
      .distinct()
  }

  /** Candidate edges (id_a < id_b), NOT deduplicated across keys — callers
    * `.distinct()` after unioning bands/probes. Eager (see object doc). */
  def edges(members: DataFrame, keyCols: Seq[String], idCol: String, cap: Int): DataFrame = {
    val keys = keyCols.map(col)
    val id = col(idCol).cast("long")
    val rows = members.where(keys.map(_.isNotNull).reduce(_ && _))

    val slices = cappedBuckets(members, keyCols, idCol, cap)

    // one computation, three consumers (explode / gate / join build side);
    // the monster gate is an accumulator over the SAME pass: within rows
    // where n >= 2, a null kept-ids array means exactly "overflowed"
    // (CappedIds.result nulls ids only for overflow or n < 2)
    val sIdx = keyCols.length // schema after the agg: key columns, then `s`
    val (buckets, _, monsterCount) = GraftBridge.materializeCounting(
      slices.filter(col("s.n") >= 2),
      row => row.getStruct(sIdx, 3).isNullAt(2))

    // kept list survived: all pairs when n <= cap, star otherwise — both
    // handled inside the compiled pair_combos kernel
    val keptPairs = buckets
      .filter(col("s.ids").isNotNull)
      .select(explode(GraftFunctions.call("pair_combos", col("s.ids"), lit(cap))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))

    if (monsterCount == 0L) keptPairs
    else {
      // members of monster buckets recovered from the membership rows —
      // the one case worth re-running the caller's band/probe projection
      val monsterKeys = buckets
        .filter(col("s.ids").isNull)
        .select(keys :+ col("s.hub").as("_hub"): _*)
      val starPairs = rows
        .join(monsterKeys, keyCols)
        .filter(id =!= col("_hub"))
        .select(col("_hub").as("id_a"), id.as("id_b"))
      keptPairs.unionByName(starPairs)
    }
  }
}

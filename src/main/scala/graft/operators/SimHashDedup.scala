package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spark.GraftFunctions.call

/** SimHash near-dup lane (north rule lane 2): 64-bit token-weighted
  * SimHash, candidate generation by Hamming-ball block probing, verified by
  * `bit_count(a ^ b) <= maxDist` (Spark's codegen'd `bit_count` — the
  * "built-in suffices" mapping of SURVEY.md §2.3 scalar functions).
  *
  * Probing uses the pigeonhole block scheme: the 64-bit hash is split into
  * `maxDist + 1` blocks, so any pair within Hamming distance `maxDist`
  * agrees exactly on >= 1 block. Join key is (block idx, block value) — the
  * same narrow-row groupBy-bucket pattern as the MinHash lane, no
  * signatures in flight.
  */
object SimHashDedup {

  /** Probe-block bucket size above which [[pairs]] star-caps a bucket. */
  val MaxBucketSize = 128

  /** Pairs (id_a < id_b) with Hamming distance <= maxDist. Includes the
    * simhashes and distance. */
  def pairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    // materialized once (16 bytes/doc): consumed by probe generation, by
    // BucketedPairs' monster branch (this lane's 16-bit probe blocks DO
    // produce over-cap buckets on real corpora), and by both verify joins —
    // without this, the simhash kernel re-runs over the full corpus in
    // every consumer
    val hashed = org.apache.spark.sql.GraftBridge.materialize(
      docs.select(col(idCol).as("id"), call("simhash64", col(textCol)).as("sim")))
    pairsFromHashes(hashed, maxDist, MaxBucketSize)
  }

  // ------------------------------------------------------------------
  // Incremental probe tier: new batch vs a STORED corpus probe index
  // ------------------------------------------------------------------

  /** Stored probe-key index for incremental probing: `(id, sim, probe)` —
    * maxDist+1 narrow rows/doc. The index CARRIES the 8-byte simhash, so
    * probing a new batch against a 10^12-doc corpus touches no corpus
    * text at all: candidates verify against the sims already in the
    * touched postings. Persist via TableIO partitioned/bucketed by
    * `probe` for probe-join co-location; append each admitted batch's
    * postings to keep the index current (see the MinHash twin —
    * `MinHashLSH.bandIndex` — for the maintenance pattern). */
  def probeIndex(docs: DataFrame, idCol: String, textCol: String,
                 maxDist: Int = 3): DataFrame =
    probeRows(docs.select(col(idCol).cast("long").as("id"),
      call("simhash64", col(textCol)).as("sim")), "sim", maxDist, col("id"), col("sim"))

  /** Incremental pairs `(new_id, corpus_id, hamming)` of a batch against a
    * stored [[probeIndex]]: batch hashed once (materialized — probes and
    * verify both read it), index semi-joined to the batch's probe keys so
    * only touched buckets aggregate, postings collected through the shared
    * salted capped machinery (`BucketedPairs.cappedBuckets`: a phase-1
    * buffer holds at most maxPostings+1 ids, a phase-2 buffer at most
    * 16 x (maxPostings+1)); a bucket degrades to its hub once one of its
    * 16 salt slices holds more than maxPostings postings or the bucket
    * more than 16 x (maxPostings+1), as in `BucketedPairs.probeCandidates`. Below the cap the pigeonhole argument makes the
    * probe EXACT: any cross pair within maxDist agrees on >= 1 of
    * maxDist+1 blocks, so it shares a probe bucket. */
  def incrementalPairs(index: DataFrame, incoming: DataFrame, idCol: String,
                       textCol: String, maxDist: Int = 3,
                       maxPostings: Int = 128): DataFrame = {
    val inc = org.apache.spark.sql.GraftBridge.materialize(
      incoming.select(col(idCol).cast("long").as("new_id"),
        call("simhash64", col(textCol)).as("sim_n")))
    incrementalPairsFromHashes(index, inc, maxDist, maxPostings)
  }

  /** [[incrementalPairs]] over a precomputed (materialized) batch hash
    * frame `(new_id, sim_n)` — no batch kernel recompute. Values identical
    * by construction. */
  def incrementalPairsFromHashes(index: DataFrame, inc: DataFrame,
                                 maxDist: Int = 3,
                                 maxPostings: Int = 128): DataFrame = {
    val probes = probeRows(inc, "sim_n", maxDist, col("new_id"))
    // touched buckets are read twice (capped collection + the sim lookup
    // for verify) — materialize so the index scan happens once
    val touched = org.apache.spark.sql.GraftBridge.materialize(
      index.join(probes.select("probe").distinct(), Seq("probe"), "left_semi"))
    val buckets = BucketedPairs
      .cappedBuckets(touched, Seq("probe"), "id", maxPostings)
      .select(col("probe"),
        coalesce(col("s.ids"), array(col("s.hub"))).as("cands"))
    val cands = probes.join(buckets, Seq("probe"))
      .select(col("new_id"), explode(col("cands")).as("corpus_id"))
      .distinct()
    cands
      .join(touched.select(col("id").as("corpus_id"), col("sim")).distinct(),
        "corpus_id")
      .join(inc, "new_id")
      .withColumn("hamming", bit_count(col("sim").bitwiseXOR(col("sim_n"))))
      .filter(col("hamming") <= maxDist)
      .select("new_id", "corpus_id", "hamming")
  }

  /** [[probeIndex]] from precomputed `(id, sim)` rows — lets a caller that
    * already materialized the simhash projection build the stored index
    * without re-running the kernel. Values identical by construction. */
  def probeIndexFromHashes(hashed: DataFrame, maxDist: Int = 3): DataFrame =
    probeRows(hashed, "sim", maxDist, col("id").cast("long").as("id"), col("sim"))

  /** Pairs from precomputed `(id, sim)` rows (the pipeline's one-pass
    * feature projection supplies these, already persisted — no text
    * rescan, no extra materialization). */
  def pairsFromHashes(hashed: DataFrame, maxDist: Int, maxBucketSize: Int): DataFrame = {
    val probes = probeRows(hashed, "sim", maxDist, col("id"))

    // salted, size-capped bucket collection per probe key; hot buckets
    // (boilerplate — near-identical simhashes) emit star pairs
    // (BucketedPairs). The verify join pulls the two 8-byte simhashes back
    // in for the candidate set only — narrow rows, AQE-skew-handled.
    val cands = BucketedPairs.edges(probes, Seq("probe"), "id", maxBucketSize)
      .distinct()
    cands
      .join(hashed.select(col("id").as("id_a"), col("sim").as("sim_a")), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("sim").as("sim_b")), "id_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** The lane's one probe explode: `keep` columns plus one `probe` row per
    * Hamming probe key of the simhash column `sim`. */
  private def probeRows(hashes: DataFrame, sim: String, maxDist: Int,
                        keep: Column*): DataFrame =
    hashes.select(keep :+
      explode(call("simhash_probes", col(sim), lit(maxDist))).as("probe"): _*)
}

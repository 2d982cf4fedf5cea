package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spark.GraftFunctions.call

/** Exact deduplication by content hash — the linear lane that also covers
  * whatever the LSH lane's hot-bucket cap drops (template/boilerplate
  * clusters). Every operator here groups on a codegen'd content hash,
  * never on the text itself, so shuffle rows stay narrow `(hash, id)` at
  * any corpus size — the full documents only move in `survivors`' final
  * left-semi join-back, which never crosses an aggregation.
  *
  * `paranoid = true` widens the grouping key from 64 to 128 bits (two
  * independently-keyed xxhash64 lanes). At the 10^12-doc target scale the
  * 64-bit birthday bound expects thousands of colliding non-duplicate
  * pairs — silently merged clusters / dropped docs; 128 bits push the
  * expectation below 10^-13. This beats the alternative (a text-equality
  * confirm join within hash groups) because the confirm join would
  * shuffle corpus text bytes — exactly what the narrow-key design avoids.
  */
object ExactDedup {

  /** Target false-positive rate of the corpus membership filters. */
  val Fpp = 0.01

  /** Exact-lane grouping key: 64-bit codegen `xxhash64(text)`, or a
    * 128-bit struct of two xxhash64 lanes when `paranoid`. The second
    * lane prepends a constant 64-bit salt to the hashed input stream,
    * which changes the internal state before the text bytes are mixed —
    * the two outputs collide together only with ~2^-128 probability. */
  private def contentKey(textCol: String, paranoid: Boolean): Column =
    if (paranoid)
      struct(xxhash64(col(textCol)).as("h1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col(textCol)).as("h2"))
    else xxhash64(col(textCol))

  /** One row per duplicate cluster: canonical id (min), cluster size.
    * Shuffle rows are (hash, id) — the text stays below the exchange
    * (asserted in PlanShapeSpec). */
  def clusters(docs: DataFrame, idCol: String, textCol: String,
               paranoid: Boolean = false): DataFrame =
    docs
      .select(contentKey(textCol, paranoid).as("h"), col(idCol).as("id"))
      .groupBy("h")
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)
      .select("canonical_id", "cluster_size")

  /** All duplicate pairs (a<b) with identical text — the COMPLETE C(n,2)
    * contract, SQL-oracle-checked; the pipeline's scale path is
    * [[starEdges]]. Guarded: a duplicate group larger than `maxGroupSize`
    * fails the query loudly instead of silently materializing ~n^2/2 rows
    * (a 10^6-member boilerplate group would emit 5*10^11 pairs); callers
    * that genuinely want bigger groups raise the bound explicitly. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            paranoid: Boolean = false, maxGroupSize: Int = 1 << 16): DataFrame = {
    val hashed = docs.select(contentKey(textCol, paranoid).as("h"), col(idCol).as("id"))
    val grouped = hashed.groupBy("h").agg(collect_list("id").as("ids"))
      .filter(size(col("ids")) > 1)
    // the guard lives INSIDE the expression feeding the explode — an
    // unreferenced assert_true column would be pruned by the optimizer
    grouped
      .select(when(size(col("ids")) <= maxGroupSize, col("ids"))
        .otherwise(raise_error(concat(
          lit(s"ExactDedup.pairs: duplicate group exceeds maxGroupSize=$maxGroupSize (size "),
          size(col("ids")),
          lit("); use starEdges for clustering or raise maxGroupSize")))).as("ids"))
      .select(explode(call("pair_combos", col("ids"), lit(Int.MaxValue))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
  }

  /** Star edges (hub = min id per duplicate group) — the clustering lane's
    * edge generator. Web corpora have 10^5..10^6-way exact-dup groups
    * (empty pages, soft-404 boilerplate); connected components only needs
    * the group connected, so one hub-star per group emits O(group) edges
    * where `pairs` would emit O(group^2). Fully distributed: a narrow
    * (hash -> hub) aggregate joined back to the (hash, id) rows — no
    * aggregation buffer ever holds a group's member list. */
  def starEdges(docs: DataFrame, idCol: String, textCol: String,
                paranoid: Boolean = false): DataFrame =
    starEdgesFromHashes(
      docs.select(contentKey(textCol, paranoid).as("h"), col(idCol).as("id")), "h", "id")

  /** Star edges over precomputed content hashes (the pipeline's one-pass
    * feature projection supplies these — the corpus text is not rescanned). */
  def starEdgesFromHashes(hashed0: DataFrame, hashCol: String, idCol: String): DataFrame = {
    val hashed = hashed0.select(col(hashCol).as("h"), col(idCol).as("id"))
    val hubs = hashed.groupBy("h")
      .agg(min(col("id")).as("hub"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select("h", "hub")
    hashed.join(hubs, "h")
      .filter(col("id") =!= col("hub"))
      .select(col("hub").as("id_a"), col("id").as("id_b"))
  }

  /** Survivors: keep the minimum id per distinct text (the keep-one-copy
    * dedup a training-data pipeline applies before tokenization). Narrow:
    * only (hash, id) rows reach the survivor-selection shuffle; the full
    * documents join back LEFT SEMI against the small survivor-id set (a
    * window over the text-hash partitioning would shuffle every full row
    * instead). */
  def survivors(docs: DataFrame, idCol: String, textCol: String,
                paranoid: Boolean = false): DataFrame = {
    val keep = docs
      .select(contentKey(textCol, paranoid).as("h"), col(idCol).as("_sid"))
      .groupBy("h").agg(min("_sid").as("_sid"))
      .select("_sid")
    docs.join(keep, docs(idCol) === keep("_sid"), "left_semi")
  }

  /** Survivors selected by SCORE — argmax per duplicate group, ties to
    * the minimum id — instead of plain min id: production keep-one-copy
    * usually prefers the best copy of a duplicate group (longest text,
    * most trusted source, newest crawl), not the smallest id. Same
    * narrow-shuffle shape as [[survivors]]: only (hash, id, score) rows
    * reach the aggregation (struct-max gives one row per group), and the
    * full documents join back LEFT SEMI against the survivor ids.
    * Unlike [[survivors]], requires a NUMERIC (long-castable) id column
    * (the negated-id tiebreak is arithmetic) — checked loudly, since a
    * string id would cast to null and silently drop the whole corpus. */
  def survivorsBy(docs: DataFrame, idCol: String, textCol: String,
                  score: Column, paranoid: Boolean = false): DataFrame = {
    IdColumns.requireLongCastable(docs, idCol, "ExactDedup.survivorsBy")
    val keep = docs
      .select(contentKey(textCol, paranoid).as("h"),
        col(idCol).cast("long").as("_sid"), score.cast("double").as("_sc"))
      .groupBy("h")
      // max(struct) orders by score first, then by -id: highest score
      // wins, equal scores fall to the lowest id
      .agg(max(struct(col("_sc"), (-col("_sid")).as("_nid"))).as("best"))
      .select((-col("best._nid")).cast("long").as("_sid"))
    docs.join(keep, docs(idCol).cast("long") === keep("_sid"), "left_semi")
  }

  /** Incremental dedup: the survivors of a NEW batch against an already
    * deduplicated corpus — the daily-crawl-increment shape. A new doc
    * survives iff its content key appears nowhere in the corpus (narrow
    * left-anti join on the hash, corpus text never moves) and it is the
    * keep-one-copy winner within the batch. The corpus itself is never
    * rewritten; appending the returned rows preserves the corpus
    * invariant "no two docs share a content key". */
  def incrementalSurvivors(corpus: DataFrame, incoming: DataFrame,
                           idCol: String, textCol: String,
                           paranoid: Boolean = false): DataFrame = {
    val corpusKeys = corpus.select(contentKey(textCol, paranoid).as("_ch"))
    val keyed = incoming.withColumn("_ik", contentKey(textCol, paranoid))
    val fresh = keyed
      .join(corpusKeys, keyed("_ik") === corpusKeys("_ch"), "left_anti")
      .drop("_ik")
    survivors(fresh, idCol, textCol, paranoid)
  }

  /** The corpus-membership Bloom filter over 64-bit content hashes — one
    * map-side-partial pass (the shuffle carries one filter per partition,
    * never the hashes). Persist the returned bytes and OR each increment's
    * survivors in with `bloom_merge` / [[graft.core.BloomFilter.merge]]
    * instead of rebuilding: the filter is the only corpus state the daily
    * dedup needs to touch. Size it for the corpus' lifetime cardinality —
    * ~1.2 GB per 10^9 docs at fpp 0.01; beyond ~10^10 shard the filter by
    * hash range and prefilter each shard's slice of the batch. */
  def corpusBloom(corpus: DataFrame, textCol: String,
                  expectedItems: Long, fpp: Double = Fpp): Array[Byte] =
    corpus.select(xxhash64(col(textCol)).as("_bh"))
      .agg(call("bloom_agg", col("_bh"), lit(expectedItems), lit(fpp)))
      .first().getAs[Array[Byte]](0)

  /** [[corpusBloom]]'s DELETABLE twin: a counting Bloom filter
    * ([[graft.core.CountingBloomFilter]]) over the same `xxhash64(text)`
    * keys, built by the same one map-side-partial pass (cell-wise
    * saturating add is the linear combine). 8x the bytes of the bitset
    * filter — the price of [[retireFromCountingBloom]] existing at all:
    * without it, retiring cluster losers from the membership prefilter
    * means rebuilding it over the whole surviving corpus each curation
    * epoch. */
  def corpusCountingBloom(corpus: DataFrame, textCol: String,
                          expectedItems: Long, fpp: Double = Fpp): Array[Byte] =
    corpus.select(xxhash64(col(textCol)).as("_bh"))
      .agg(call("cbloom_agg", col("_bh"), lit(expectedItems), lit(fpp)))
      .first().getAs[Array[Byte]](0)

  /** Retire a batch of INSERTED keys (survivor selection's cluster losers)
    * from the persisted counting filter: ONE distributed `cbloom_agg` over
    * the retired docs' keys — the shuffle carries per-partition filters,
    * never keys — then an exact cell-wise subtract. Equivalent to
    * removing the keys one by one; loud on contract violations (a key
    * never inserted, a saturated cell). The maintained filter is
    * probe-equivalent to one built fresh over the survivor corpus up to
    * false positives (cells shared with survivors stay set — never a
    * false negative for survivors). */
  def retireFromCountingBloom(cbloomBytes: Array[Byte],
                              retired: DataFrame, textCol: String): Array[Byte] = {
    val main = graft.core.CountingBloomFilter.deserialize(cbloomBytes)
    // the deletes filter is built GEOMETRY-EXPLICIT from the persisted
    // filter's own cell layout, so cells line up by construction
    val deletes = retired.select(xxhash64(col(textCol)).as("_bh"))
      .agg(call("cbloom_agg_config", col("_bh"), lit(main.numCells), lit(main.numHashes)))
      .first().getAs[Array[Byte]](0)
    main.subtract(graft.core.CountingBloomFilter.deserialize(deletes)).serialize()
  }

  /** [[incrementalSurvivors]] with a Bloom membership prefilter — the
    * scale path for "dedupe today's crawl against a 10^12-doc corpus".
    * The broadcast filter splits the batch map-side: definitely-fresh
    * rows (no false negatives — most of a real increment) skip the
    * anti-join entirely; only the maybe-duplicates (true dups + the fpp
    * sliver) reach the exact confirm, so the per-increment join touches
    * a small fraction of the batch instead of all of it. False positives
    * only add rows to the exact join — the result is row-identical to
    * [[incrementalSurvivors]] for ANY filter contents. The prefilter
    * hashes `xxhash64(text)` (= lane 1 of the paranoid key), so it is
    * sound for both key widths. */
  def incrementalSurvivorsBloom(corpus: DataFrame, incoming: DataFrame,
                                idCol: String, textCol: String,
                                bloomBytes: Array[Byte],
                                paranoid: Boolean = false): DataFrame =
    confirmedSurvivors(corpus, bloomSplit(incoming, textCol, "_bh",
      graft.core.BloomFilter.deserialize(bloomBytes)), idCol, textCol, paranoid)

  /** [[incrementalSurvivorsBloom]] probing the COUNTING corpus filter
    * ([[corpusCountingBloom]]) — same row-identical-to-exact contract for
    * any filter contents; the counting filter is the one that stays
    * correct across retirement epochs ([[retireFromCountingBloom]])
    * without a 10^12-key rebuild. */
  def incrementalSurvivorsCountingBloom(corpus: DataFrame, incoming: DataFrame,
                                        idCol: String, textCol: String,
                                        cbloomBytes: Array[Byte],
                                        paranoid: Boolean = false): DataFrame =
    confirmedSurvivors(corpus, bloomSplit(incoming, textCol, "_bh",
      graft.core.CountingBloomFilter.deserialize(cbloomBytes)), idCol, textCol, paranoid)

  /** The Bloom prefilter split shared by the batch and streaming faces:
    * `df` gains `hashCol = xxhash64(textCol)` and splits map-side into
    * `(definitely fresh, maybe in the corpus)` by a broadcast of `filter`.
    * Each face confirms the maybe rows its own way. */
  private[graft] def bloomSplit(df: DataFrame, textCol: String, hashCol: String,
                                filter: graft.core.MembershipFilter with Serializable)
      : (DataFrame, DataFrame) = {
    // Broadcast lifecycle: the filter rides the returned (lazy) DataFrames'
    // plans, so it cannot be destroyed here; Spark's ContextCleaner reclaims
    // executor copies once the caller drops them. A driver loop re-invoking
    // this daily with GB-scale filters should hold only the current
    // increment's frames so the previous broadcast becomes collectable
    // before the next one ships.
    val bc = df.sparkSession.sparkContext.broadcast(filter)
    // deserialize once per executor via the broadcast — never per row
    val mightContain = org.apache.spark.sql.functions.udf((h: Long) => bc.value.mightContain(h))
    // single `_maybe` projection feeding both branches (instead of the UDF
    // written out in two complementary filters): each branch's scan probes a
    // row once
    val keyed = df.withColumn(hashCol, xxhash64(col(textCol)))
      .withColumn("_maybe", mightContain(col(hashCol)))
    (keyed.filter(!col("_maybe")).drop("_maybe"), keyed.filter(col("_maybe")).drop("_maybe"))
  }

  /** Shared tail of the prefiltered faces over a `(definiteFresh, maybe)`
    * split: the `maybe` rows are confirmed fresh by a left-anti join
    * against the corpus content keys, the `definiteFresh` rows skip it, and
    * [[survivors]] dedups their union. Both frames carry the prefilter
    * hash `_bh`, dropped here. */
  private def confirmedSurvivors(corpus: DataFrame, split: (DataFrame, DataFrame),
                                 idCol: String, textCol: String,
                                 paranoid: Boolean): DataFrame = {
    val (definiteFresh, maybe) = split
    val corpusKeys = corpus.select(contentKey(textCol, paranoid).as("_ch"))
    val maybeKeyed = maybe.withColumn("_ik", contentKey(textCol, paranoid))
    val confirmedFresh = maybeKeyed
      .join(corpusKeys, maybeKeyed("_ik") === corpusKeys("_ch"), "left_anti")
      .drop("_ik")
    survivors(definiteFresh.unionByName(confirmedFresh).drop("_bh"), idCol, textCol, paranoid)
  }

  /** Hash-range-sharded corpus filters — the beyond-broadcast regime. One
    * Bloom filter per shard `xxhash64(text) & (shards-1)`, emitted as a
    * `(shard, filter)` table: at 10^12 docs the monolithic filter is ~TBs
    * (unbroadcastable), but each of, say, 4096 shards is a few hundred MB
    * — stored as a table, appended shard-wise with `bloom_merge`, and
    * probed co-partitioned (see [[incrementalSurvivorsBloomSharded]])
    * without the filter bytes ever leaving their shard's task. */
  def corpusBloomShards(corpus: DataFrame, textCol: String, shards: Int,
                        expectedItemsPerShard: Long): DataFrame = {
    require(shards >= 1 && (shards & (shards - 1)) == 0,
      s"shards must be a power of two, got $shards")
    corpus.select(xxhash64(col(textCol)).as("_bh"))
      .withColumn("shard", col("_bh").bitwiseAND(lit((shards - 1).toLong)).cast("int"))
      .groupBy("shard")
      .agg(call("bloom_agg", col("_bh"), lit(expectedItemsPerShard), lit(Fpp)).as("filter"))
  }

  /** [[incrementalSurvivorsBloom]] without a broadcast: batch rows are
    * CO-GROUPED with their shard's filter (both sides shuffle by the
    * 4-byte shard key; the batch side's rows are a narrow (shard, id,
    * hash) projection), each task deserializes exactly one shard filter
    * once and streams its rows through it. Only maybe-duplicate ids come
    * back; the batch splits by id and the maybes go through the same
    * exact confirm. Row-identical to [[incrementalSurvivors]] for ANY
    * filter contents — a shard with no filter row (no corpus content in
    * that hash range) marks all its rows definitely fresh, which is
    * sound because corpus membership implies filter membership in the
    * row's own shard. Requires a numeric (long-castable) id column. */
  def incrementalSurvivorsBloomSharded(corpus: DataFrame, incoming: DataFrame,
                                       idCol: String, textCol: String,
                                       shardFilters: DataFrame, shards: Int,
                                       paranoid: Boolean = false): DataFrame = {
    require(shards >= 1 && (shards & (shards - 1)) == 0,
      s"shards must be a power of two, got $shards")
    val spark = incoming.sparkSession
    import spark.implicits._
    val keyed = incoming.withColumn("_bh", xxhash64(col(textCol)))
    val probe = keyed
      .select(col("_bh").bitwiseAND(lit((shards - 1).toLong)).cast("int").as("_shard"),
        col(idCol).cast("long").as("_pid"), col("_bh"))
      .as[(Int, Long, Long)]
    val filters = shardFilters
      .select(col("shard").cast("int"), col("filter")).as[(Int, Array[Byte])]
    val maybeIds = probe.groupByKey(_._1).cogroup(filters.groupByKey(_._1)) {
      (_, rows, fs) =>
        fs.toSeq.headOption.map(f => graft.core.BloomFilter.deserialize(f._2)) match {
          case None    => Iterator.empty
          case Some(f) => rows.collect { case (_, pid, bh) if f.mightContain(bh) => pid }
        }
    }.toDF("_mid")
    val maybe = keyed.join(maybeIds, keyed(idCol).cast("long") === maybeIds("_mid"), "left_semi")
    val definiteFresh = keyed.join(maybeIds, keyed(idCol).cast("long") === maybeIds("_mid"), "left_anti")
    confirmedSurvivors(corpus, (definiteFresh, maybe), idCol, textCol, paranoid)
  }
}

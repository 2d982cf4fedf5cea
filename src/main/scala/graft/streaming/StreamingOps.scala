package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.spark.GraftFunctions.call

/** Structured Streaming surface of the engine (SURVEY.md §2.3 Streaming):
  * the same mergeable-sketch aggregates run under streaming group-bys —
  * sketch `update`/`merge` is exactly the semantics a streaming state store
  * needs — plus stateful streaming near-dup candidate generation.
  */
object StreamingOps {

  /** Event-time-windowed REQ doc-length quantile sketches with watermarking:
    * one serialized sketch column per (window, group). Late data beyond
    * `watermarkDelay` is dropped by Spark; the sketch column can be stored
    * and re-merged later with `req_merge` (cross-window rollups). */
  def windowedReqSketch(events: DataFrame, tsCol: String, valueCol: String,
                        groupCol: String, windowDuration: String,
                        watermarkDelay: String): DataFrame = {
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(groupCol))
      .agg(call("req_sketch", col(valueCol)).as("len_sketch"),
           count(lit(1)).as("n"))
  }

  /** Event-time-windowed heavy hitters: a Misra–Gries frequent-items
    * sketch per (window, group) over the tokens of a text column. Tokens
    * explode map-side; the streaming state store holds one bounded sketch
    * per key (the same partial/merge lifecycle as the batch aggregate), so
    * a hot window costs O(maxMapSize) state no matter how many tokens it
    * sees. Query the emitted sketch column with `freq_topk` / `freq_lb` /
    * `freq_ub`, or roll windows up later with `freq_merge`. */
  def windowedFreqSketch(docs: DataFrame, tsCol: String, textCol: String,
                         groupCol: String, windowDuration: String,
                         watermarkDelay: String,
                         maxMapSize: Int = graft.core.FreqSketch.DefaultMaxMapSize): DataFrame = {
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(groupCol),
        explode(split(trim(col(textCol)), "\\s+")).as("_tok"))
      .groupBy(window(col(tsCol), windowDuration), col(groupCol))
      .agg(call("freq_sketch", col("_tok"), lit(maxMapSize)).as("tok_sketch"),
           count(lit(1)).as("n_tokens"))
  }

  /** Event-time-windowed Count-Min token frequencies: one linear CMS per
    * (window, group). Linearity means the streamed result is BYTE-IDENTICAL
    * to a batch pass over the same rows, whatever the micro-batch boundaries
    * (StreamingOpsSpec pins this) — the state store holds one fixed-size
    * depth x width table per key. Point-query the emitted column with
    * `cms_estimate`, roll windows up with `cms_merge`. */
  def windowedCmsSketch(docs: DataFrame, tsCol: String, textCol: String,
                        groupCol: String, windowDuration: String,
                        watermarkDelay: String,
                        depth: Int = graft.core.CmsSketch.DefaultDepth,
                        width: Int = graft.core.CmsSketch.DefaultWidth): DataFrame = {
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), col(groupCol),
        explode(split(trim(col(textCol)), "\\s+")).as("_tok"))
      .groupBy(window(col(tsCol), windowDuration), col(groupCol))
      .agg(call("cms_sketch", col("_tok"), lit(depth), lit(width)).as("tok_cms"),
           count(lit(1)).as("n_tokens"))
  }

  /** Event-time lateness [[sessionize]] tolerates on a stream. */
  val SessionWatermark = "0 seconds"

  /** Gap-based sessionization on a stream: Spark's native `session_window`
    * (dynamic merging windows in the state store) + a watermark bounding
    * state. The SAME call shape runs in batch (session_window is a plain
    * grouping expression there), which is how the spec pins
    * stream ≡ batch over arbitrary micro-batch splits. Output: one row
    * per closed (user, session) with event count + bounds. */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
                 gap: String = "30 minutes"): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = if (events.isStreaming) events.withWatermark(tsCol, SessionWatermark) else events
    base
      .groupBy(col(userCol).as("user_id"), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(tsCol).as("first_ts"), max(tsCol).as("last_ts"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"), col("first_ts"), col("last_ts"))
  }

  /** Stream-stream INTERVAL join (click → purchase attribution): each
    * purchase matches the same user's clicks with
    * `click_ts ∈ [purchase_ts − windowSec, purchase_ts]`. The one
    * Structured-Streaming surface nothing else in this engine exercises:
    * BOTH sides buffer state, and it stays bounded precisely because the
    * join condition carries the time interval against two watermarked
    * event-time columns — Spark derives each side's state expiry from
    * watermark + range, no timers or custom state. The SAME call runs in
    * batch (unified Dataset API), which is how the driver oracle checks
    * the join semantics; the spec pins stream ≡ batch across arbitrary
    * micro-batch splits. Timestamp comparisons are micros-exact, so the
    * batch oracle can state the window in integer epoch arithmetic. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      userCol: String, tsCol: String, idCol: String,
                      windowSec: Long, watermark: String = "10 minutes"): DataFrame = {
    require(windowSec > 0, s"bad window $windowSec")
    val c0 = clicks.select(col(userCol).as("user_id"),
      col(tsCol).as("click_ts"), col(idCol).as("click_id"))
    val p0 = purchases.select(col(userCol).as("p_user"),
      col(tsCol).as("purchase_ts"), col(idCol).as("purchase_id"))
    val (c, p) =
      if (clicks.isStreaming)
        (c0.withWatermark("click_ts", watermark),
          p0.withWatermark("purchase_ts", watermark))
      else (c0, p0)
    c.join(p, col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Stream → versioned table: each micro-batch keyed-UPSERTs into the
    * committed head and commits a NEW snapshot fingerprinted by the
    * epoch id. Exactly-once across restarts/replays falls out of the
    * fingerprint check — Spark may re-deliver an epoch after a failure,
    * and an epoch whose fingerprint is already in the snapshot log is
    * skipped whole (the same idempotence discipline as the pipeline's
    * config⊕input resume). Batches must carry unique keys
    * ([[graft.pipeline.TableIO.upsert]] enforces it loudly). On Iceberg
    * this is the native streaming-commit path; every snapshot stays
    * time-travelable, so "the corpus as of epoch N" is a readAt. */
  def sinkToTable(stream: DataFrame, io: graft.pipeline.TableIO, table: String,
                  keyCols: Seq[String], queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyEpoch(io, table, keyCols, batch, s"$queryName-epoch-$epochId")
        ()
      }
      .queryName(queryName)
      .start()

  /** One epoch of [[sinkToTable]]: upsert + commit under `fp`, or skip
    * entirely when `fp` is already in the snapshot log (epoch replay).
    * Returns whether the epoch was applied.
    *
    * Crash recovery: a previous attempt that died BETWEEN upsert's
    * overwrite and its commit leaves an uncommitted head (snapshot log
    * non-empty, head fingerprint absent). The replayed epoch's fp is not
    * in the log, so it must re-apply — but `upsert` merges into the
    * COMMITTED head and refuses an uncommitted one. Discard the partial
    * head first ([[graft.pipeline.TableIO.discardUncommittedHead]]); the
    * epoch then re-derives from the last committed snapshot, which is
    * exactly the state the crashed attempt started from (batch contents
    * are deterministic per epoch id under Spark's offset-log replay), so
    * the outcome is identical to the crash never happening. */
  private[graft] def applyEpoch(io: graft.pipeline.TableIO, table: String,
                                keyCols: Seq[String], batch: DataFrame,
                                fp: String): Boolean = {
    if (io.snapshots(table).exists(_._2 == fp)) false
    else {
      if (!io.exists(table) || io.snapshots(table).isEmpty)
        io.overwrite(table, batch) // overwrite reuses a partial head slot
      else {
        if (io.committedFingerprint(table).isEmpty)
          io.discardUncommittedHead(table)
        io.upsert(table, batch, keyCols)
      }
      io.commit(table, fp)
      true
    }
  }

  // ------------------------------------------------------------------
  // Streaming CLUSTERING face: fold each micro-batch into a maintained
  // cluster assignment (the streaming twin of
  // ConnectedComponents.incrementalAssign + the stored-index probe tiers)
  // ------------------------------------------------------------------

  /** Current cluster assignment under the lazy-merge discipline: `clusters`
    * rows are written ONCE (per batch doc, at its admission epoch) and
    * never rewritten; cluster merges live in a small FLATTENED
    * `(component, new_component)` map readers fold with one join — the
    * 10^12-row-corpus contract (a merge of two large clusters must never
    * rewrite the corpus-sized table). */
  def currentAssignment(io: graft.pipeline.TableIO, tablePrefix: String): DataFrame = {
    val clusters = io.read(s"${tablePrefix}_clusters")
    val merges =
      if (io.exists(s"${tablePrefix}_merges") && io.snapshots(s"${tablePrefix}_merges").nonEmpty)
        io.read(s"${tablePrefix}_merges")
      else clusters.select(col("component"), col("component").as("new_component")).limit(0)
    clusters.join(merges, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("new_component"), col("component")).as("component"))
  }

  /** One epoch of [[streamingClusterAssign]] — exposed for tests and for
    * non-streaming callers that fold batches themselves. Returns whether
    * any table was written.
    *
    * State = four TableIO tables under `tablePrefix`:
    * `_clusters` (id → component at admission, append-only by id),
    * `_merges` (flattened merge map), `_corpus` (id, text),
    * `_index` (MinHash band postings). Per epoch: the batch probes the
    * stored index for batch→corpus near-dup pairs (NO corpus rescan — the
    * incremental-tier contract), runs the batch lane within itself, folds
    * both edge sets through `ConnectedComponents.incrementalAssign`, and
    * upserts each table under the epoch fingerprint.
    *
    * Replay/crash idempotence: every derivation reads the BATCH-EXCLUDED
    * view of each table (`left_anti` on the batch's ids), which
    * reconstructs the pre-epoch state even when some tables already
    * committed this epoch — batch rows are exactly what the epoch added to
    * clusters/corpus/index, and the merge map is idempotent to re-fold
    * (labels already at their post-merge minimum re-derive the same
    * minimum; `IncrementalNearDupSpec`-style min-label preservation). A
    * table whose snapshot log already carries this epoch's fingerprint is
    * skipped whole; an uncommitted head (crash between write and commit)
    * is discarded first, mirroring [[applyEpoch]].
    *
    * Re-arrived ids (crawl refresh) are re-clustered latest-wins: the
    * batch-excluded view drops their old corpus/index/cluster rows, and
    * merges stay monotone for surviving docs (their clusters never split —
    * the CC contract; only the refreshed doc itself leaves its old
    * cluster). Because cluster labels ARE member ids (min-id labeling), a
    * re-arrived id that is — or was — a stored LABEL must leave the label
    * space before the fold, or the re-minted label silently aliases the
    * old cluster; see the label-identity cleanup below. */
  private[graft] def applyClusterEpoch(io: graft.pipeline.TableIO, tablePrefix: String,
                                       batch0: DataFrame, idCol: String, textCol: String,
                                       threshold: Double, maxPostings: Int,
                                       fp: String): Boolean = {
    import graft.operators.{ConnectedComponents, MinHashLSH}
    val tc = s"${tablePrefix}_clusters"
    val tm = s"${tablePrefix}_merges"
    val tx = s"${tablePrefix}_corpus"
    val ti = s"${tablePrefix}_index"
    val tables = Seq(tc, tm, tx, ti)
    tables.foreach { t =>
      if (io.exists(t) && io.snapshots(t).nonEmpty && io.committedFingerprint(t).isEmpty)
        io.discardUncommittedHead(t)
    }
    if (tables.forall(t => io.exists(t) && io.snapshots(t).exists(_._2 == fp)))
      return false
    // deterministic winner for duplicate ids WITHIN a micro-batch (max
    // text): dropDuplicates' First aggregate is task-order dependent, so a
    // crash replay could commit different tables from different texts of
    // the same id — max is replay-stable
    val batch = batch0
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .groupBy("id").agg(max(col("text")).as("text"))
    val bIds = batch.select("id")
    def view(t: String, empty: => DataFrame): DataFrame =
      if (io.exists(t) && io.snapshots(t).nonEmpty)
        io.read(t).join(bIds, Seq("id"), "left_anti")
      else empty
    val corpus0 = view(tx, batch.limit(0))
    val index0 = view(ti, MinHashLSH.bandIndex(batch.limit(0), "id", "text"))
    val clusters0raw = view(tc,
      batch.limit(0).select(col("id"), col("id").as("component")))
    val merges0 =
      if (io.exists(tm) && io.snapshots(tm).nonEmpty) io.read(tm)
      else batch.limit(0).select(col("id").as("component"), col("id").as("new_component"))
    // committed rows composed to CURRENT label space (one join — flat map)
    val composed0 = clusters0raw.join(merges0, Seq("component"), "left")
      .select(col("id"), coalesce(col("new_component"), col("component")).as("component"))
    // --- label-identity cleanup for re-arrived ids ----------------------
    // Labels are member ids, so a batch id `b` colliding with the stored
    // label space would alias the old cluster once re-minted:
    //  * RETIRED label ((b -> t) in the map): the refreshed doc's fresh
    //    component b would compose through the stale entry into t.
    //    Neutralize the entry to identity and rewrite the raw rows still
    //    referencing b to their composed label t.
    //  * LIVE label (b is the min member of a surviving cluster): dropping
    //    b's row leaves the other members labeled b, colliding with the
    //    refreshed doc's fresh singleton b. Relabel the remaining members
    //    to their new min id and repoint map entries targeting b.
    // Every driver of the extra joins is bounded by the batch (semi-joins
    // against bIds), so they broadcast at any corpus size; crash replays
    // re-derive an empty cleanup (the rewritten rows no longer collide).
    val batchLabels = bIds.select(col("id").as("component"))
    val retiredKeys = merges0.join(batchLabels, Seq("component"), "left_semi")
      .select("component")
    val liveCollide = composed0.join(batchLabels, Seq("component"), "left_semi")
      .select("component").distinct()
    val relabel = composed0.join(liveCollide, Seq("component"), "left_semi")
      .groupBy("component").agg(min(col("id")).as("fresh"))
    val clusters0 = composed0.join(relabel, Seq("component"), "left")
      .select(col("id"), coalesce(col("fresh"), col("component")).as("component"))
    // stored rows whose RAW component is affected get their cleaned label
    // upserted (by id) alongside this epoch's batch assignment
    val affectedRaw = retiredKeys
      .unionByName(liveCollide)
      .unionByName(merges0.join(relabel.select(col("component").as("_t")),
          merges0.col("new_component") === col("_t"), "left_semi")
        .select("component"))
      .distinct()
    val rewriteRows = clusters0raw.join(affectedRaw, Seq("component"), "left_semi")
      .select("id").join(clusters0, Seq("id"))
    val crossPairs = MinHashLSH.incrementalNearDupPairs(
        index0, corpus0, batch, "id", "text", threshold, maxPostings)
      .select("new_id", "corpus_id")
    val batchPairs = MinHashLSH.nearDupPairs(batch, "id", "text", threshold, maxPostings)
      .select("id_a", "id_b")
    val (assign, mergeMap) =
      ConnectedComponents.incrementalAssign(clusters0, bIds, crossPairs, batchPairs)
    // flatten: existing map entries whose target just merged re-point to
    // the new label, so the stored map stays one-join-deep. Retired keys
    // being re-minted this epoch become identity entries (their old rows
    // were rewritten above); entries targeting a relabeled live collision
    // re-point to the fresh label. A stored key that is ALSO a mergeMap
    // key this epoch (possible only for referent-free entries — an
    // identity row whose re-minted label merged again, or an entry
    // orphaned by this epoch's rewrites) yields to mergeMap: without the
    // exclusion the upsert would carry duplicate keys and the epoch would
    // crash-loop on TableIO's unique-key contract. The remaining key sets
    // are disjoint: identity keys are retired labels, mergeMap keys are
    // live cleaned labels, and repointed/retargeted partition the kept
    // entries by target (mergeMap keys vs relabeled keys never overlap).
    val ev = mergeMap.select(col("component").as("_c"), col("new_component").as("_n"))
    val merges0kept = merges0
      .join(retiredKeys, Seq("component"), "left_anti")
      .join(ev.select(col("_c").as("component")), Seq("component"), "left_anti")
    val repointed = merges0kept.join(ev, merges0kept.col("new_component") === col("_c"))
      .select(col("component"), col("_n").as("new_component"))
    val retargeted = merges0kept
      .join(relabel.select(col("component").as("_t"), col("fresh")),
        merges0kept.col("new_component") === col("_t"))
      .select(col("component"), col("fresh").as("new_component"))
    val identityRows = retiredKeys
      .select(col("component"), col("component").as("new_component"))
    val mergesUp = mergeMap.unionByName(repointed).unionByName(retargeted)
      .unionByName(identityRows)
    def applyTable(t: String, up: DataFrame, keys: Seq[String]): Unit =
      if (!(io.exists(t) && io.snapshots(t).exists(_._2 == fp))) {
        if (!io.exists(t) || io.snapshots(t).isEmpty) io.overwrite(t, up)
        else io.upsert(t, up, keys)
        io.commit(t, fp)
      }
    applyTable(tc, assign.unionByName(rewriteRows), Seq("id"))
    applyTable(tm, mergesUp, Seq("component"))
    applyTable(tx, batch, Seq("id"))
    applyTable(ti, MinHashLSH.bandIndex(batch, "id", "text"), Seq("id", "band"))
    true
  }

  /** Streaming clustering vs a growing corpus: each micro-batch of
    * `(id, text)` docs is folded into the maintained assignment exactly as
    * the incremental batch tier would ([[applyClusterEpoch]]); read the
    * live assignment with [[currentAssignment]]. Epoch replays after
    * failures are absorbed by the per-table fingerprint discipline, so the
    * final state is identical to a single batch recompute over all
    * delivered docs at the same config (spec-pinned). */
  def streamingClusterAssign(stream: DataFrame, idCol: String, textCol: String,
                             io: graft.pipeline.TableIO, tablePrefix: String,
                             threshold: Double, maxPostings: Int,
                             queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyClusterEpoch(io, tablePrefix, batch, idCol, textCol, threshold,
          maxPostings, s"$queryName-epoch-$epochId")
        ()
      }
      .queryName(queryName)
      .start()

  /** Streaming exact dedup: keep the first occurrence of each content hash.
    * State is the 8-byte hash only (dropDuplicates state store). NOTE:
    * `dropDuplicates` on the hash alone keeps one state row per distinct
    * hash FOREVER (Spark only ages dedup state out when the event-time
    * column is part of the key subset) — this unbounded variant matches the
    * batch lane exactly but is for bounded replays. For infinite streams,
    * watermark the input upstream and dedup with Spark's
    * `dropDuplicatesWithinWatermark` on the same hash, which bounds state
    * to the watermark horizon (duplicates farther apart than the horizon
    * are then NOT collapsed — the standard streaming trade). */
  def streamingExactDedup(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("_h", xxhash64(col(textCol))).dropDuplicates("_h").drop("_h")

  /** Streaming twin of `ExactDedup.incrementalSurvivorsBloom`: a live
    * crawl stream dedupped against a STATIC committed corpus. The
    * broadcast corpus Bloom filter splits each micro-batch map-side —
    * definitely-fresh rows (no false negatives; most of a real stream)
    * never touch the confirm join — while maybe-duplicates are confirmed
    * with a stream-static LEFT ANTI join against the corpus's narrow
    * content-key table; within-stream copies collapse first-arrival-wins
    * on the content hash (`dropDuplicates`). False positives only add
    * rows to the confirm join: the kept set is identical for ANY filter
    * contents, exactly like the batch operator.
    *
    * @param corpusKeys static table of the corpus's xxhash64(text) keys
    *                   (one narrow column — the same key the batch path
    *                   anti-joins on) */
  def streamingIncrementalDedup(stream: DataFrame, textCol: String,
                                corpusKeys: DataFrame, keyCol: String,
                                bloomBytes: Array[Byte]): DataFrame = {
    val (fresh, maybe) = graft.operators.ExactDedup.bloomSplit(stream, textCol, "_h",
      graft.core.BloomFilter.deserialize(bloomBytes))
    val confirmed = maybe
      .join(corpusKeys.select(col(keyCol).cast("long").as("_ck")),
        col("_h") === col("_ck"), "left_anti")
    fresh.unionByName(confirmed).dropDuplicates("_h").drop("_h")
  }

  /** One crawl snapshot of a url: event time + 64-bit content key (the
    * xxhash64(text) key the exact-dedup lanes use; text itself never
    * enters state). */
  case class UrlSnap(url: String, ts: Long, ck: Long)
  case class UrlRefreshState(keptTs: Long, keptCk: Long, nSnapshots: Long,
                             versions: Array[Long])
  case class UrlRefresh(url: String, kept_ts: Long, kept_ck: Long,
                        n_snapshots: Long, n_versions: Int, changed: Boolean)

  /** Distinct content keys [[streamingUrlRefresh]] keeps per url. */
  val UrlMaxVersions = 64

  /** Streaming twin of the batch crawl-refresh query (`q_url_refresh`):
    * latest-snapshot-wins per url with change tracking. Every micro-batch
    * in which a url sees arrivals emits the url's CURRENT refresh row
    * (update mode) — a changelog a downstream sink upserts keyed on url
    * (the `sinkToTable` seam). Out-of-order arrivals fold correctly: an
    * older-ts snapshot updates counts and the version set but never the
    * kept snapshot. `n_snapshots` counts ARRIVALS (at-least-once delivery
    * counts replays — the count is operational telemetry, not a dedup
    * key); the kept snapshot and version set are replay-idempotent.
    *
    * State per url is O(1) plus the sorted distinct content-key set,
    * capped at [[UrlMaxVersions]] (real pages have few versions; past the cap
    * `n_versions` degrades to a lower bound, same documented trade as the
    * capped-bucket lanes). Keyed state shards by url across executors —
    * the same partitioning the batch group-by shuffles on, so the
    * operator holds at crawl scale; for infinite streams compose with a
    * watermark upstream and swap NoTimeout for an event-time TTL exactly
    * like [[streamingCandidatePairsExpiring]]. */
  def streamingUrlRefresh(snaps: Dataset[UrlSnap]): Dataset[UrlRefresh] = {
    import snaps.sparkSession.implicits._
    snaps.groupByKey(_.url)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (url: String, rows: Iterator[UrlSnap], state: GroupState[UrlRefreshState]) => {
          var st = state.getOption.getOrElse(
            UrlRefreshState(Long.MinValue, 0L, 0L, Array.emptyLongArray))
          rows.foreach { r =>
            var vs = st.versions
            if (vs.length < UrlMaxVersions) {
              val idx = java.util.Arrays.binarySearch(vs, r.ck)
              if (idx < 0) {
                val ins = -idx - 1
                val next = new Array[Long](vs.length + 1)
                System.arraycopy(vs, 0, next, 0, ins)
                next(ins) = r.ck
                System.arraycopy(vs, ins, next, ins + 1, vs.length - ins)
                vs = next
              }
            }
            val newer = r.ts > st.keptTs
            st = UrlRefreshState(
              if (newer) r.ts else st.keptTs,
              if (newer) r.ck else st.keptCk,
              st.nSnapshots + 1, vs)
          }
          state.update(st)
          Iterator.single(UrlRefresh(url, st.keptTs, st.keptCk,
            st.nSnapshots, st.versions.length, st.versions.length > 1))
        })
  }

  /** Per-bucket streaming state for LSH candidate generation: the SORTED
    * array of ids already seen in this bucket (capped, like the batch
    * hot-bucket cap — membership is a binary search, not a list walk).
    * `hub` is the minimum id ever seen — arrivals after the cap still pair
    * with it (star edges), mirroring the batch hot-bucket fallback.
    *
    * State-schema history (a changed schema needs a FRESH checkpoint dir —
    * flatMapGroupsWithState cannot migrate old state): v1 (r1) was
    * `ids: List[Long]`; v2 (r2) added `hub`; v3 (r3) makes `ids` a sorted
    * primitive array. v2→v3 encodes identically (`array<bigint>` + bigint)
    * but the sortedness invariant differs, so a v2 checkpoint restored into
    * v3 code would corrupt membership tests — new checkpoint dir required. */
  case class BucketState(ids: Array[Long], hub: Long)
  case class BandedDoc(bucket: Long, id: Long)
  case class TimedBandedDoc(bucket: Long, id: Long, ts: java.sql.Timestamp)
  case class CandPair(id_a: Long, id_b: Long)

  /** Shared per-bucket arrival logic for the streaming LSH operators:
    * under the cap, a new id pairs with every stored id and is inserted in
    * sort position (O(log n) membership + O(n) primitive copy — the copy
    * is bounded by the cap and cheaper than the O(n) emission it rides
    * with); over the cap, the arrival emits one star edge to the hub and
    * leaves state untouched, so state stays O(cap) no matter how many
    * members a hot bucket sees. */
  private def absorbArrivals(rows: Iterator[Long], st: BucketState, cap: Int,
                             out: scala.collection.mutable.ArrayBuffer[CandPair]): BucketState = {
    var cur = st.ids
    var hub = st.hub
    rows.foreach { id =>
      if (cur.length < cap) {
        val idx = java.util.Arrays.binarySearch(cur, id)
        if (idx < 0) {
          var i = 0
          while (i < cur.length) {
            val old = cur(i)
            out += CandPair(math.min(old, id), math.max(old, id))
            i += 1
          }
          val ins = -idx - 1
          val next = new Array[Long](cur.length + 1)
          System.arraycopy(cur, 0, next, 0, ins)
          next(ins) = id
          System.arraycopy(cur, ins, next, ins + 1, cur.length - ins)
          cur = next
          if (id < hub) hub = id
        }
      } else if (id != hub) {
        // over-cap arrival: STAR edge to the bucket's minimum id — the doc
        // stays connected for clustering with O(1) marginal state, exactly
        // the batch hot-bucket fallback (PairGen star)
        out += CandPair(math.min(hub, id), math.max(hub, id))
      }
    }
    BucketState(cur, hub)
  }

  /** Stateful streaming MinHash-LSH candidate pairs: every incoming doc is
    * exploded to its 16 band keys upstream; this operator keeps the set of
    * doc ids per live bucket (`flatMapGroupsWithState`, update mode) and
    * emits (new doc x stored docs) candidate pairs incrementally — the
    * streaming twin of the batch `MinHashLSH.candidatePairs` bucket join.
    * Downstream, pairs are verified against a (static or stored) text table
    * exactly like the batch lane.
    *
    * Bucket state here lives FOREVER (`NoTimeout`) — correct for bounded
    * replays, unbounded state on an infinite stream; the production
    * variant is [[streamingCandidatePairsExpiring]], which ages idle
    * buckets out on event time. */
  def streamingCandidatePairs(banded: Dataset[BandedDoc],
                              maxBucketSize: Int = 1000): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (_: Long, rows: Iterator[BandedDoc], state: GroupState[BucketState]) => {
          val st = state.getOption.getOrElse(BucketState(Array.emptyLongArray, Long.MaxValue))
          val out = scala.collection.mutable.ArrayBuffer[CandPair]()
          val next = absorbArrivals(rows.map(_.id), st, maxBucketSize, out)
          state.update(next)
          out.iterator
        })
  }

  /** Event-time-expiring streaming LSH candidate pairs — the infinite-
    * stream twin of [[streamingCandidatePairs]]: the caller watermarks
    * the input on `ts`, and a bucket that stays idle until the watermark
    * passes (last event time + `ttlMs`) has its whole state DROPPED, so
    * live state is bounded by the buckets active inside the horizon.
    * Duplicates arriving farther apart than the horizon pair only through
    * a fresh bucket (the standard streaming trade). */
  def streamingCandidatePairsExpiring(banded: Dataset[TimedBandedDoc],
                                      maxBucketSize: Int = 1000,
                                      ttlMs: Long = 3600L * 1000L): Dataset[CandPair] = {
    import banded.sparkSession.implicits._
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (_: Long, rows: Iterator[TimedBandedDoc], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(BucketState(Array.emptyLongArray, Long.MaxValue))
            val out = scala.collection.mutable.ArrayBuffer[CandPair]()
            var maxTs = Long.MinValue
            val next = absorbArrivals(rows.map { r =>
              if (r.ts.getTime > maxTs) maxTs = r.ts.getTime
              r.id
            }, st, maxBucketSize, out)
            state.update(next)
            state.setTimeoutTimestamp(maxTs + ttlMs)
            out.iterator
          }
        })
  }

  /** A batch lane's `(id, key...)` index rows as the `(bucket, id)` rows
    * every streaming bucket-state operator consumes: the streaming text
    * faces run the batch lanes' own Catalyst projections, so a NULL text
    * emits no rows exactly as in batch. */
  private def bucketsOf(index: DataFrame, keyCol: String): Dataset[BandedDoc] = {
    import index.sparkSession.implicits._
    index.select(col(keyCol).as("bucket"), col("id")).as[BandedDoc]
  }

  /** Convenience: text docs -> exploded band keys (for feeding
    * `streamingCandidatePairs`). Runs the full shingle->minhash->band chain
    * map-side (`MinHashLSH.bandIndex`); only (bucket, id) narrow rows reach
    * the stateful shuffle. */
  def bandDocs(docs: DataFrame, idCol: String, textCol: String): Dataset[BandedDoc] =
    bucketsOf(graft.operators.MinHashLSH.bandIndex(docs, idCol, textCol), "bh")

  /** WEIGHTED-lane streaming twin: docs -> exploded band keys over ICWS
    * weighted signatures, feeding [[streamingCandidatePairs]] — the
    * streaming face of `MinHashLSH.weightedNearDupPairs`, same map-side
    * signature chain and narrow (bucket, id) state rows as [[bandDocs]];
    * the exact Σmin/Σmax verify stays a downstream concern. */
  def weightedBandDocs(docs: DataFrame, idCol: String, textCol: String): Dataset[BandedDoc] =
    bucketsOf(graft.operators.MinHashLSH.weightedBandIndex(docs, idCol, textCol), "bh")

  /** CDC-lane streaming twin: docs -> (chunk-hash bucket, id) rows feeding
    * [[streamingCandidatePairs]] — a bucket here is one content-defined
    * chunk, so two docs become candidates the moment they share a chunk,
    * across micro-batches, with the same capped per-bucket state as every
    * other streaming lane. Chunking is map-side (no aggregation), which is
    * what makes this streaming-legal in append mode; the batch lane's
    * within-doc `.distinct()` is deliberately skipped — repeated
    * (bucket, id) arrivals are absorbed idempotently by the sorted bucket
    * state, and candidate consumers `.distinct()` downstream. `shared >=
    * minShared` filtering stays a downstream verify concern (exactly like
    * Jaccard verification in the MinHash lane): candidates over-approximate
    * by design, the stored-index recount (`cdcIncrementalPairs`) or a
    * batch recount decides. */
  def cdcBandDocs(docs: DataFrame, idCol: String, textCol: String): Dataset[BandedDoc] = {
    import docs.sparkSession.implicits._
    graft.operators.DocChunker.cdcChunks(docs, idCol, textCol)
      .select(xxhash64(md5(col("chunk_text"))).as("bucket"),
        col("id").cast("long").as("id"))
      .as[BandedDoc]
  }

  /** Substring-lane streaming twin: docs -> (winnowed-fingerprint bucket,
    * id) rows feeding [[streamingCandidatePairs]] — a bucket is one
    * selected Karp-Rabin fingerprint, so two docs become candidates the
    * moment they share a winnowed span fingerprint, across micro-batches.
    * The winnowing guarantee (every common span >=
    * `SubstringDedup.LosslessMinLen` shares a selected fingerprint)
    * carries over verbatim because fingerprints are a pure per-doc
    * function of the text; the exact Rabin-Karp verify
    * (`common_substring_atleast`) stays a downstream concern against a
    * static/stored text table, exactly like the batch and incremental
    * faces. With this, all five near-dup lanes (minhash, simhash via
    * probe-keys upstream, substring, cdc, embedding) run on the one shared
    * capped bucket-state operator. */
  def fpDocs(docs: DataFrame, idCol: String, textCol: String): Dataset[BandedDoc] =
    bucketsOf(graft.operators.SubstringDedup.fpIndex(docs, idCol, textCol), "fp")

  /** SimHash-lane streaming twin: docs -> (Hamming probe key, id) rows
    * feeding [[streamingCandidatePairs]]. Probe keys split the 64-bit
    * SimHash into maxDist+1 blocks; the pigeonhole argument makes the
    * candidate set COMPLETE for pairs within Hamming maxDist (two hashes
    * differing in <= maxDist bits agree on at least one whole block), so
    * the streamed candidates over-approximate exactly like the batch
    * probe join and the exact Hamming verify stays downstream. */
  def simhashProbeDocs(docs: DataFrame, idCol: String, textCol: String,
                       maxDist: Int = 3): Dataset[BandedDoc] =
    bucketsOf(graft.operators.SimHashDedup.probeIndex(docs, idCol, textCol, maxDist), "probe")

  /** Embedding near-dup streaming twin: vectors -> auto-tuned sign-LSH band
    * keys (the batch lane's own `AnnSearch.lshIndex` projection), feeding
    * `streamingCandidatePairs`; candidates are verified downstream with the
    * compiled cosine kernel against a static/stored vector table. */
  def bandVecs(vecs: DataFrame, idCol: String, vecCol: String, threshold: Double,
               targetRecall: Double = 0.95): Dataset[BandedDoc] =
    bucketsOf(graft.operators.AnnSearch.lshIndex(vecs, idCol, vecCol, threshold,
      targetRecall), "bk")
}

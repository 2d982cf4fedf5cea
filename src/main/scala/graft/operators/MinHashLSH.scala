package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.TextOps
import graft.spark.GraftFunctions.call

/** MinHash + LSH near-duplicate detection (north-rule lane 1:
  * 5-gram shingles → 128-perm MinHash → 16x8 banding → bucket candidate
  * generation → exact-Jaccard verify).
  *
  * Scale design (10^12 docs):
  *  - Signatures are NEVER shuffled: band keys are computed in the same
  *    projection as the signature, so the only wide dataset in flight is
  *    `(id, band, band_hash)` at 16 rows x ~24 bytes per doc.
  *  - Candidate pairs come from `groupBy(band, band_hash)` + per-bucket
  *    combination generation — half the shuffle volume of the equivalent
  *    band self-join, with map-side size capping.
  *  - Hot buckets (boilerplate templates, SURVEY.md §7 hard part 3) are
  *    capped at `maxBucketSize`: a bucket of a million identical pages would
  *    otherwise generate ~10^12 quadratic pairs. Docs in capped buckets are
  *    exact/near-identical template pages and are still caught by the
  *    exact-hash lane (`ExactDedup`), which is linear. Dropped-bucket counts
  *    are reported in the returned metrics.
  *  - The verify join (pairs back to texts) is the skew point — a hub doc in
  *    many pairs — handled by AQE skew-join splitting (enabled in session
  *    conf) rather than manual salting, since pair multiplicity is bounded
  *    by the bucket cap.
  *
  * The verify lane decides pairs (exact Jaccard over shingle sets), so
  * sketch-level ±eps never affects pair recall (SURVEY.md §7 hard part 2).
  */
object MinHashLSH {

  /** Posting cap of the incremental probe: a touched bucket degrades to
    * its hub once one of its 16 salt slices holds more than this many
    * corpus postings, or the bucket more than 16 x (this + 1)
    * (`BucketedPairs.probeCandidates`). */
  val MaxPostings = 1000

  /** Candidate pairs (idA < idB) from LSH banding over `textCol`. */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     maxBucketSize: Int = 1000): DataFrame = {
    // id + 16 band keys per doc, signatures never materialized to a shuffle
    candidatePairsFromBands(
      docs.select(col(idCol).as("id"),
        call("minhash_bands", col(textCol)).as("bands")),
      maxBucketSize)
  }

  /** Candidate pairs from precomputed band-key arrays `(id, bands)` (the
    * pipeline's one-pass feature projection supplies these). */
  def candidatePairsFromBands(bandArrays: DataFrame, maxBucketSize: Int): DataFrame = {
    val bands = bandRows(bandArrays, col("id"))
    // salted, size-capped bucket collection per (band, band_hash); hot
    // buckets (boilerplate) fall back to star pairs — linear, keeps the
    // bucket connected for clustering, and no aggregation buffer ever holds
    // more than maxBucketSize+1 ids (BucketedPairs)
    BucketedPairs.edges(bands, Seq("band", "bh"), "id", maxBucketSize)
      .distinct()
  }

  /** Exact verify join: candidates back to texts, decided by `kernel`
    * (the name of a symmetric text-similarity graft function) so LSH can
    * only lose recall, never create false positives. The default kernel
    * is exact shingle Jaccard; the weighted lane passes its Σmin/Σmax
    * multiset kernel through the SAME body — any fix to the join shape
    * lands in every lane at once. */
  def verifyPairs(cands: DataFrame, texts0: DataFrame, idCol: String,
                  textCol: String, threshold: Double,
                  kernel: String = "jaccard_shingles",
                  scoreCol: String = "jaccard"): DataFrame = {
    val texts = texts0.select(col(idCol).as("id"), col(textCol).as("t"))
    cands
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
      .withColumn(scoreCol, call(kernel, col("t_a"), col("t_b")))
      .filter(col(scoreCol) >= threshold)
      .select("id_a", "id_b", scoreCol)
  }

  /** Near-dup pairs with exact shingle-Jaccard >= threshold. Returns
    * (id_a, id_b, jaccard). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, maxBucketSize: Int = 1000): DataFrame =
    verifyPairs(candidatePairs(docs, idCol, textCol, maxBucketSize),
      docs, idCol, textCol, threshold)

  /** WEIGHTED near-dup pairs: ICWS weighted-MinHash signatures (Ioffe
    * ICDM'10 — P[slot match] = tf-weighted Jaccard exactly) through the
    * SAME banding + salted capped bucket machinery, decided by the exact
    * token-multiset Σmin/Σmax verify (`weighted_jaccard`). This is the
    * similarity tier the set-Jaccard lane is blind to: a page repeating a
    * template paragraph 10× banding-collides with the single-copy page
    * under set semantics but separates here. Returns
    * (id_a, id_b, wjaccard); LSH can only lose recall, never invent
    * pairs — the S-curve at the pinned 16×8 config applies to J_w
    * unchanged (`LshCalibration`). */
  def weightedNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                           threshold: Double, maxBucketSize: Int = 1000): DataFrame = {
    val cands = candidatePairsFromBands(
      docs.select(col(idCol).as("id"), weightedBands(col(textCol)).as("bands")),
      maxBucketSize)
    verifyPairs(cands, docs, idCol, textCol, threshold,
      kernel = "weighted_jaccard", scoreCol = "wjaccard")
  }

  /** Stored band index over WEIGHTED (ICWS) signatures — the incremental
    * face of [[weightedNearDupPairs]], same 16-narrow-postings-per-doc
    * footprint and maintenance story as [[bandIndex]]. */
  def weightedBandIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postings(docs, idCol, weightedBands(col(textCol)))

  /** The 16 band keys of a text's ICWS weighted-MinHash signature. */
  private def weightedBands(text: Column): Column =
    call("band_hashes", call("weighted_minhash", text))

  /** Incremental WEIGHTED near-dup pairs `(new_id, corpus_id, wjaccard)`:
    * a batch probed against a stored [[weightedBandIndex]] through the
    * shared capped machinery ([[BucketedPairs.probeCandidates]] — touched
    * buckets only, hub degradation past the cap), decided by the exact
    * token-multiset Σmin/Σmax verify. Same contract as
    * [[incrementalNearDupPairs]]: corpus text is only read for verify
    * candidates; LSH can only lose recall, never invent pairs. */
  def weightedIncrementalPairs(index: DataFrame, corpusTexts: DataFrame,
                               incoming: DataFrame, idCol: String,
                               textCol: String, threshold: Double,
                               maxPostings: Int = MaxPostings): DataFrame =
    verifiedAgainstCorpus(
      BucketedPairs.probeCandidates(index,
        weightedBandIndex(incoming, idCol, textCol).withColumnRenamed("id", "new_id"),
        Seq("band", "bh"), "id", "new_id", maxPostings),
      corpusTexts, incoming, idCol, textCol, threshold,
      kernel = "weighted_jaccard", scoreCol = "wjaccard")

  /** Shared verify body of the incremental lanes: `(new_id, corpus_id)`
    * candidates joined back to both texts and decided by `kernel`.
    * Corpus text is only probed for candidate ids. */
  private def verifiedAgainstCorpus(cands: DataFrame, corpusTexts: DataFrame,
                                    incoming: DataFrame, idCol: String,
                                    textCol: String, threshold: Double,
                                    kernel: String, scoreCol: String): DataFrame = {
    cands
      .join(corpusTexts.select(col(idCol).cast("long").as("corpus_id"),
        col(textCol).as("t_c")), "corpus_id")
      .join(incoming.select(col(idCol).cast("long").as("new_id"),
        col(textCol).as("t_n")), "new_id")
      .withColumn(scoreCol, call(kernel, col("t_n"), col("t_c")))
      .filter(col(scoreCol) >= threshold)
      .select("new_id", "corpus_id", scoreCol)
  }

  // ------------------------------------------------------------------
  // Incremental probe lane: new batch vs a STORED corpus band index
  // ------------------------------------------------------------------

  /** Stored LSH band index: one posting row `(id, band, bh)` per document
    * per band — 16 narrow rows/doc, the ONLY corpus-derived state the
    * incremental lane ever touches. At 10^12 docs this is the table you
    * persist once (TableIO snapshot, bucketed by (band, bh) so probe joins
    * co-locate and untouched buckets prune) and append each admitted
    * batch's postings to; corpus TEXT is only read for the docs that
    * become verify candidates. */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postings(docs, idCol, call("minhash_bands", col(textCol)))

  /** Postings `(id, band, bh)` from a precomputed band-array frame
    * `(id, bands)` — lets a caller that already materialized the band
    * projection (e.g. to share it between the batch lane and the stored-
    * index face of one query) explode it without re-running the signature
    * kernel. Values identical to [[bandIndex]] by construction. */
  def postingsFromBands(bandArrays: DataFrame): DataFrame =
    bandRows(bandArrays, col("id").cast("long").as("id"))

  /** [[incrementalNearDupPairs]] over a precomputed probe-side posting
    * frame `(new_id, band, bh)` (see [[postingsFromBands]]) — same verify
    * contract, no batch signature recompute. */
  def incrementalNearDupPairsFromPostings(index: DataFrame, corpusTexts: DataFrame,
                                          incomingPostings: DataFrame,
                                          incomingTexts: DataFrame, idCol: String,
                                          textCol: String, threshold: Double): DataFrame =
    verifiedAgainstCorpus(
      BucketedPairs.probeCandidates(index, incomingPostings,
        Seq("band", "bh"), "id", "new_id", MaxPostings),
      corpusTexts, incomingTexts, idCol, textCol, threshold,
      kernel = "jaccard_shingles", scoreCol = "jaccard")

  /** Shared posting projection of [[bandIndex]]/[[weightedBandIndex]]:
    * one `(id, band, bh)` row per document per band of `sigBands`. */
  private def postings(docs: DataFrame, idCol: String, sigBands: Column): DataFrame =
    bandRows(docs.select(col(idCol).cast("long").as("id"), sigBands.as("bands")), col("id"))

  /** The lane's one posting explode: `(id, band, bh)` rows, one per band of
    * a `(id..., bands)` frame's band-key array, with `id` as the id column. */
  private def bandRows(bandArrays: DataFrame, id: Column): DataFrame =
    bandArrays.select(id, posexplode(col("bands")).as(Seq("band", "bh")))

  /** Candidate (new_id, corpus_id) pairs for an incoming batch against a
    * stored [[bandIndex]] — the daily-crawl-increment shape: NO corpus
    * rescan, no corpus×corpus work, cost proportional to the batch and the
    * touched buckets only.
    *
    * Scale/skew structure:
    *  1. the index is semi-joined to the batch's distinct band keys first,
    *     so only touched buckets are ever aggregated (with a bucketed/
    *     partitioned index table this is where partition pruning bites);
    *  2. touched buckets collect corpus postings through the SAME salted
    *     capped machinery as the batch lane ([[BucketedPairs.cappedBuckets]]
    *     — a phase-1 buffer holds at most maxPostings+1 ids, a phase-2
    *     buffer at most 16 x (maxPostings+1));
    *  3. a hot bucket (template page family where one of the 16 salt
    *     slices holds > maxPostings corpus members, or the bucket
    *     > 16 x (maxPostings+1)) degrades to its hub (minimum corpus id)
    *     as the sole candidate — same approximation class as the batch
    *     lane's star edges: template members are near-identical, so the hub stands for
    *     the bucket in the verify step, and the exact incremental lane
    *     (`ExactDedup.incrementalSurvivors*`) catches byte-identical
    *     template copies linearly. Past the cap, pair COMPLETENESS (every
    *     matching corpus doc listed) is a lower bound; match DETECTION
    *     (is the new doc a near-dup of the corpus at all) only fails if a
    *     doc matches non-hub members of hot buckets exclusively — the
    *     boilerplate regime by construction. */
  def incrementalCandidates(index: DataFrame, incoming: DataFrame,
                            idCol: String, textCol: String,
                            maxPostings: Int = MaxPostings): DataFrame =
    BucketedPairs.probeCandidates(index,
      bandIndex(incoming, idCol, textCol).withColumnRenamed("id", "new_id"),
      Seq("band", "bh"), "id", "new_id", maxPostings)

  /** Verified incremental near-dup pairs `(new_id, corpus_id, jaccard)`:
    * [[incrementalCandidates]] joined back to both texts and decided by
    * exact shingle Jaccard >= threshold, so LSH banding can only lose
    * recall, never create false positives. `corpusTexts` is only probed
    * for candidate ids (an equi-join a bucketed corpus table serves
    * without a shuffle of the corpus side). */
  def incrementalNearDupPairs(index: DataFrame, corpusTexts: DataFrame,
                              incoming: DataFrame, idCol: String,
                              textCol: String, threshold: Double,
                              maxPostings: Int = MaxPostings): DataFrame =
    verifiedAgainstCorpus(
      incrementalCandidates(index, incoming, idCol, textCol, maxPostings),
      corpusTexts, incoming, idCol, textCol, threshold,
      kernel = "jaccard_shingles", scoreCol = "jaccard")

  /** Batch docs that are NOT a near-dup of any corpus doc — the admission
    * face of the incremental lane (within-batch near-dups are the batch
    * lane's job; compose with `ExactDedup.incrementalSurvivors*` for the
    * exact tier). */
  def incrementalNovel(index: DataFrame, corpusTexts: DataFrame,
                       incoming: DataFrame, idCol: String, textCol: String,
                       threshold: Double): DataFrame =
    incoming.join(
      incrementalNearDupPairs(index, corpusTexts, incoming, idCol, textCol,
          threshold)
        .select(col("new_id").as(idCol)),
      Seq(idCol), "left_anti")

  // ------------------------------------------------------------------
  // Index lifecycle: the maintenance jobs a long-lived stored band index
  // needs between probe batches
  // ------------------------------------------------------------------

  /** Posting-level compaction: collapse duplicate `(id, band, bh)` rows.
    * Appends are at-least-once in practice (a replayed increment re-adds
    * its postings); duplicates never change PROBE results (candidates are
    * `.distinct()`ed) but they inflate the index and push capped buckets
    * toward hub degradation early, so a periodic rewrite keeps the cap
    * budget spent on real members. Run it as the same job that re-buckets
    * the index table by (band, bh) — one shuffle serves both. */
  def compactPostings(index: DataFrame): DataFrame =
    index.select("id", "band", "bh").distinct()

  /** Merge two stored band indexes (e.g. two crawls' indexes, or a main
    * index with a batch's postings built index-side) into one that is
    * PROBE-EQUIVALENT to a fresh index over the union corpus: postings are
    * config-identified (same perm/band constants), so union + posting
    * compaction is the whole job — no signature is ever recomputed, and
    * the rewrite's shuffle doubles as the (band, bh) re-bucketing the
    * probe contract wants. Exactness is gated by `q_index_merge` (probe
    * results vs a DuckDB brute force over the union corpus). Ids must be
    * disjoint across inputs or refer to the same document when shared —
    * same contract as appending a replayed increment, which compaction
    * already absorbs. */
  def mergeIndexes(a: DataFrame, b: DataFrame): DataFrame =
    compactPostings(a.select("id", "band", "bh").unionByName(
      b.select("id", "band", "bh")))

  /** Shrink the index to surviving documents — the companion job to
    * cluster-survivor selection (`q_cluster_survivors` shape): after a
    * dedup pass retires cluster losers from the corpus, their postings
    * must leave the index too, or every future probe keeps paying verify
    * joins against text that is no longer served. Left-semi on the
    * (usually much smaller) survivor set rather than anti-join on the
    * loser set: survivors is the list you already materialized, and a
    * semi-join build side of ids broadcasts far below Bloom scale. This is
    * an index REWRITE job (amortized, offline) — the shuffle back to
    * (band, bh) bucketing rides the write. */
  def retainPostings(index: DataFrame, survivors: DataFrame,
                     idCol: String): DataFrame =
    index.join(
      survivors.select(col(idCol).cast("long").as("id")).distinct(),
      Seq("id"), "left_semi")

  /** Brute-force oracle (tests only — O(n^2), small n). */
  def bruteForcePairs(docs: Seq[(Long, String)], threshold: Double): Set[(Long, Long)] = {
    val shingled = docs.map { case (id, t) => (id, TextOps.shingleHashes(t)) }
    (for {
      (ia, sa) <- shingled
      (ib, sb) <- shingled
      if ia < ib
      if TextOps.sortedJaccard(sa, sb) >= threshold
    } yield (ia, ib)).toSet
  }
}

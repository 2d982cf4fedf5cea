package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.TextOps
import graft.spark.GraftFunctions.call

/** Exact long-substring dedup lane (north rule: "a suffix-array pass for
  * exact long-substring dedup").
  *
  * Candidate generation is winnowed Karp-Rabin fingerprints (Schleimer et
  * al., SIGMOD'03): every common substring of length >= gramLen + window - 1
  * (= 175 chars at the defaults, below `minLen` = 200) is *guaranteed* to
  * share at least one selected fingerprint, so the prefilter is lossless for
  * the target span length while emitting only ~n/64 fingerprints per doc.
  * Verification is an exact Rabin-Karp threshold decision per pair.
  *
  * Scale shape: fingerprints are (id, fp) narrow rows — texts are never
  * shuffled for candidate generation; only the (small) verified candidate
  * set joins back to texts, and that join is the AQE-skew-handled point.
  * Hot fingerprints (boilerplate spans) are capped like hot LSH buckets;
  * whatever the cap drops is template text caught by the exact/minhash
  * lanes.
  */
object SubstringDedup {

  /** The `winnow_fps` prefilter is lossless only for spans >= gram length
    * + window - 1. */
  val LosslessMinLen: Int = TextOps.WinnowGramLen + TextOps.WinnowWindow - 1

  /** Fingerprint bucket size above which a bucket is star-capped, in the
    * batch lane and in the incremental probe alike. */
  val MaxBucketSize = 1000

  /** Pairs (id_a < id_b) sharing an exact substring of >= minLen chars. */
  def pairs(docs: DataFrame, idCol: String, textCol: String, minLen: Int = 200): DataFrame = {
    pairsFromFingerprints(
      docs.select(col(idCol).as("id"), call("winnow_fps", col(textCol)).as("fps")),
      docs, idCol, textCol, minLen, MaxBucketSize)
  }

  // ------------------------------------------------------------------
  // Incremental probe tier: new batch vs a STORED fingerprint index
  // ------------------------------------------------------------------

  /** Stored winnowed-fingerprint index: `(id, fp)` — ~n/64 narrow rows per
    * doc. The substring twin of `MinHashLSH.bandIndex` /
    * `SimHashDedup.probeIndex`: persist once (TableIO, partitioned or
    * bucketed by fp), probe each batch against it, append the admitted
    * batch's rows — corpus text is only read for verify candidates. */
  def fpIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    fpRows(docs.select(col(idCol).cast("long").as("id"),
      call("winnow_fps", col(textCol)).as("fps")))

  /** The lane's one fingerprint explode: `(id, fp)` rows, one per winnowed
    * fingerprint of an `(id, fps)` frame. */
  private def fpRows(fpArrays: DataFrame): DataFrame =
    fpArrays.select(col("id"), explode(col("fps")).as("fp"))

  /** Incremental pairs `(new_id, corpus_id)` of a batch against a stored
    * [[fpIndex]]: batch docs sharing an exact substring of >= minLen chars
    * with a corpus doc. Same touched-bucket semi-join pruning + shared
    * salted capped collection + hub degradation as the other two
    * incremental tiers; the winnowing guarantee (every common span >=
    * [[LosslessMinLen]] shares a selected fingerprint) makes the prefilter
    * lossless below the cap, and the Rabin-Karp verify is exact. */
  def incrementalPairs(index: DataFrame, corpusTexts: DataFrame,
                       incoming: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 200): DataFrame = {
    require(minLen >= LosslessMinLen,
      s"minLen=$minLen below the winnowing guarantee ($LosslessMinLen)")
    BucketedPairs.probeCandidates(index,
        fpIndex(incoming, idCol, textCol).withColumnRenamed("id", "new_id"),
        Seq("fp"), "id", "new_id", MaxBucketSize)
      .join(corpusTexts.select(col(idCol).cast("long").as("corpus_id"),
        col(textCol).as("t_c")), "corpus_id")
      .join(incoming.select(col(idCol).cast("long").as("new_id"),
        col(textCol).as("t_n")), "new_id")
      .filter(call("common_substring_atleast", col("t_n"), col("t_c"), lit(minLen)))
      .select("new_id", "corpus_id")
  }

  /** Pairs from precomputed winnowed-fingerprint arrays `(id, fps)` plus a
    * texts frame for the exact verify join (the pipeline's one-pass
    * feature projection supplies the fingerprints). */
  def pairsFromFingerprints(fpArrays: DataFrame, texts1: DataFrame, idCol: String,
                            textCol: String, minLen: Int,
                            maxBucketSize: Int): DataFrame = {
    val texts = texts1.select(col(idCol).as("id"), col(textCol).as("t"))
    require(minLen >= LosslessMinLen,
      s"minLen=$minLen below the winnowing guarantee ($LosslessMinLen = " +
        s"gramLen ${TextOps.WinnowGramLen} + window ${TextOps.WinnowWindow} - 1): the prefilter would silently lose recall")

    val fps = fpRows(fpArrays)

    // salted, size-capped bucket collection per fingerprint (winnowed fps
    // are already distinct per doc, so (fp, id) rows are unique); hot
    // fingerprints (boilerplate spans) emit star pairs (BucketedPairs)
    val cands = BucketedPairs.edges(fps, Seq("fp"), "id", maxBucketSize)
      .distinct()

    // verify: exact Rabin-Karp decision at the threshold, O(|a|+|b|) per
    // pair (the O(n log^2 n) suffix-array LCS stays available as sa_lcs for
    // exact-length queries; the lane only needs the boolean)
    cands
      .join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
      .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
      .filter(call("common_substring_atleast", col("t_a"), col("t_b"), lit(minLen)))
      .select("id_a", "id_b")
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.SplitMix64

/** Similarity search over an embedding column (`array<float>`/`array<double>`).
  *
  * - `bruteForceTopK` — exact cosine top-k: the (small) query set against
  *   the corpus; one corpus scan, map-side scoring with a COMPILED
  *   cosine UDF (Catalyst higher-order-function lambdas are interpreted at
  *   ~17us/element — measured in r1, BASELINE.md — so the kernels here are
  *   plain while-loops over primitive arrays), then a per-query top-k
  *   window over narrow (query_id, neighbor_id, cos) rows.
  * - `nearDupPairs` — the scale path: auto-tuned banded multi-table
  *   random-hyperplane (sign) LSH. See `tune` for the math; hot buckets are
  *   star-capped via BucketedPairs, and every candidate is verified with
  *   exact cosine, so emitted pairs are never false positives — the tuning
  *   only controls recall and pruning.
  *
  * Honest scale note: for *isotropic* embeddings at a low threshold like
  * cos >= 0.4 (angle 66deg; per-hyperplane agreement 0.63 vs 0.50 for a
  * random pair), sign-LSH prunes weakly — the theory bound is ~n^1.67 total
  * work at recall 0.9 (rho = ln p1/ln p2 ~ 0.67) and `tune` will honestly
  * pick ~91 tables of 8 bits. Real near-dup workloads (cos >= 0.85) tune to
  * a handful of tables and prune aggressively. Both regimes are covered by
  * AnnSearchSpec recall assertions against brute-force truth.
  */
object AnnSearch {

  /** Hyperplane seed of [[lshIndex]], the one band-key producer: the batch
    * lane ([[nearDupPairs]]), the probe in [[incrementalPairs]] and
    * `StreamingOps.bandVecs` all read their keys from it, so a stored index
    * and its probe agree on the key space by construction. */
  val Seed: Long = 0x9E377L
  /** Table cap when a caller does not pass one. */
  val MaxTables = 128
  /** Bucket size above which candidate buckets are star-capped. */
  val MaxBucketSize = 4096

  // ---------------------------------------------------------- kernels

  /** Deterministic Gaussian hyperplanes, cached per executor (computed once
    * per (seed, planes, dim) instead of per row). Box-Muller over SplitMix64
    * draws — Gaussian planes make the sign-LSH collision law exact:
    * P[sign agree] = 1 - theta/pi. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]

  private def planes(seed: Long, nPlanes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, nPlanes, dim), { key =>
      val (s, np, d) = key
      Array.tabulate(np) { p =>
        val row = new Array[Double](d)
        var i = 0
        while (i < d) {
          // Box-Muller from two SplitMix64 uniforms keyed by (seed, p, i)
          val h1 = SplitMix64.mix(s ^ (p.toLong * 0x9E3779B97F4A7C15L) ^ (i.toLong * 0xC2B2AE3D27D4EB4FL))
          val h2 = SplitMix64.mix(h1 + 0x632BE59BD9B4E019L)
          val u1 = ((h1 >>> 11).toDouble + 1.0) / 9007199254740993.0 // (0,1)
          val u2 = (h2 >>> 11).toDouble / 9007199254740992.0         // [0,1)
          row(i) = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
          i += 1
        }
        row
      }
    })

  private[graft] def cosineKernel(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Band keys for one vector: `tables` keys, each packing the signs of
    * `rowsPerBand` hyperplanes with the table index (so tables never mix). */
  private def bandKeys(v: Array[Double], tables: Int, rowsPerBand: Int,
                       seed: Long): Array[Long] = {
    val pl = planes(seed, tables * rowsPerBand, v.length)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var j = 0
      while (j < rowsPerBand) {
        val row = pl(t * rowsPerBand + j)
        var acc = 0.0
        var i = 0
        val n = math.min(v.length, row.length)
        while (i < n) { acc += v(i) * row(i); i += 1 }
        if (acc >= 0) bits |= (1L << j)
        j += 1
      }
      out(t) = (t.toLong << 32) | bits
      t += 1
    }
    out
  }

  /** Cosine for DataFrame plans as a native codegen Catalyst Expression
    * (graft.spark.CosineSimilarity): the loop runs over Tungsten ArrayData
    * inside the enclosing WholeStageCodegen span — no UDF boundary, no
    * per-row array materialization. (r1 shipped interpreted
    * `aggregate(zip_with(...))` HOFs; r2 a compiled UDF; this is the final
    * form of the ladder.) */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.spark.CosineSimilarity(
      org.apache.spark.sql.GraftBridge.expression(a.cast("array<double>")),
      org.apache.spark.sql.GraftBridge.expression(b.cast("array<double>"))))

  /** Symmetric per-vector int8 quantization — the storage lever of a
    * 10^12-vector ANN index (float32 → int8 is 4× less shuffle/scan/cache
    * everywhere downstream): q_i = floor(v_i·127/maxabs + 0.5), scale =
    * maxabs. The rounding is stated as floor(x + 0.5) — not a library
    * round — so an external engine reproduces every element bit-exactly;
    * floats widen to double first (exact) and the expression keeps one
    * operand order. Zero vectors quantize to zeros with scale 0.
    * Cosine is scale-free, so quantized search needs no dequantization
    * (see [[quantizedCosine]]); dot/L2 reconstruction multiplies by
    * scale/127 per side. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_m", expr(
        "aggregate(_v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
      .select(col("vec_id"), col("_m").as("scale"),
        expr("CASE WHEN _m = 0.0 THEN transform(_v, x -> 0)" +
          " ELSE transform(_v, x -> CAST(floor(x * 127.0 / _m + 0.5) AS INT))" +
          " END").as("qvec"))

  /** Cosine over int8-quantized vectors: integer dot products (exact, no
    * float drift until the final division), the per-vector scales cancel.
    * For dim ≤ 2^15 the int64 accumulators cannot overflow (|q| ≤ 127). */
  def quantizedCosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("long") * q), lit(0L), (acc, z) => acc + z)
    val ab = dot(a, b)
    val aa = dot(a, a)
    val bb = dot(b, b)
    when(aa === 0L || bb === 0L, lit(0.0))
      .otherwise(ab.cast("double") / (sqrt(aa.cast("double")) * sqrt(bb.cast("double"))))
  }

  // ---------------------------------------------------------- tuning

  /** Per-hyperplane sign-agreement probability of a pair at cosine `c`. */
  def collisionProb(c: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi

  /** Pick (rowsPerBand, tables) so a pair at exactly `threshold` is
    * candidate'd with probability >= targetRecall:
    *   recall(r, b) = 1 - (1 - p^r)^b,   p = 1 - acos(threshold)/pi.
    * Among configs meeting recall with b <= maxTables, the largest r wins —
    * it minimizes random-pair collisions (0.5^r per table), i.e. verify
    * cost. Pairs above the threshold only collide more. */
  def tune(threshold: Double, targetRecall: Double, maxTables: Int): (Int, Int) = {
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall in (0,1), got $targetRecall")
    val p = collisionProb(threshold)
    var r = 32 // band keys pack the bits into the low 32 bits of the key
    while (r >= 1) {
      val pr = math.pow(p, r)
      val b = math.ceil(math.log1p(-targetRecall) / math.log1p(-pr))
      if (b <= maxTables) return (r, math.max(1, b.toInt))
      r -= 1
    }
    (1, maxTables)
  }

  // ---------------------------------------------------------- operators

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (idCol, vecCol) — the full embedding table
    * @param queries (idCol, vecCol) — small query set
    * @return (query_id, neighbor_id, cos, rnk) with rnk in 1..k */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    topKByCosine(c.join(q, col("query_id") =!= col("neighbor_id")), k)
  }

  /** The `k` best neighbors per query of (query_id, qv, neighbor_id, cv)
    * candidate rows: (query_id, neighbor_id, cos, rnk) by cosine desc,
    * ties to the smaller neighbor id. Shared with [[IvfIndex]]'s searches. */
  private[operators] def topKByCosine(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    candidates
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** All pairs with cosine >= threshold via banded multi-table sign-LSH +
    * exact-cosine verify. Recall vs brute-force truth is >= targetRecall
    * for pairs at exactly the threshold (higher above it) — asserted by
    * AnnSearchSpec at thresholds 0.4 and 0.9.
    *
    * Scale shape: vectors are scanned once for band keys; the only wide
    * data in flight is (band_key, id) narrow rows; buckets are salted +
    * star-capped (BucketedPairs); vectors join back only for the candidate
    * set; verify is a compiled kernel. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, targetRecall: Double = 0.95,
                   maxTables: Int = MaxTables): DataFrame = {
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val bands = lshIndex(corpus, idCol, vecCol, threshold, targetRecall, maxTables)

    val cands = BucketedPairs.edges(bands, Seq("bk"), "id", MaxBucketSize)
      .distinct()

    cands
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Stored sign-LSH band index for the embedding lane: `(bk, id)` narrow
    * postings, `tables` rows per vector. The banding config is derived
    * deterministically from (threshold, targetRecall, maxTables) and
    * [[Seed]] — a probe MUST pass the same three values or its band
    * keys live in a different key space and match nothing. Persist with
    * TableIO and bucket by `bk`: the probe path below then never reshuffles it (the
    * plan contract SkewAndBucketingSpec proves for the text band index —
    * same probe machinery). */
  def lshIndex(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, targetRecall: Double = 0.95,
               maxTables: Int = MaxTables): DataFrame = {
    val (rowsPerBand, tables) = tune(threshold, targetRecall, maxTables)
    val bandsUdf = udf((v: Array[Double]) => bandKeys(v, tables, rowsPerBand, Seed))
    corpus.select(col(idCol).cast("long").as("id"),
      explode(bandsUdf(col(vecCol).cast("array<double>"))).as("bk"))
  }

  /** Incremental embedding near-dup pairs `(new_id, corpus_id, cos)` —
    * the daily-increment face of [[nearDupPairs]], completing the
    * batch + incremental + streaming triple for the embedding lane (the
    * streaming face is `StreamingOps.bandVecs`). Candidates come from the
    * stored [[lshIndex]] through the shared capped probe helper
    * (touched-bucket semi-join → capped collection → hub degradation);
    * the verify step joins candidate ids back to `corpusVecs` — unlike
    * the CDC tier, cosine cannot be recomputed from the index, so the
    * corpus VECTOR table is probed for candidate ids only (an equi-join
    * a bucketed corpus table serves without shuffling the corpus side),
    * exactly the MinHash lane's corpus-text contract. LSH can only lose
    * recall, never invent a pair. */
  def incrementalPairs(index: DataFrame, corpusVecs: DataFrame,
                       incoming: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, targetRecall: Double = 0.95,
                       maxTables: Int = MaxTables): DataFrame = {
    val probe = lshIndex(incoming, idCol, vecCol, threshold, targetRecall,
      maxTables).withColumnRenamed("id", "new_id")
    val cands = BucketedPairs.probeCandidates(index, probe,
      Seq("bk"), "id", "new_id", MaxBucketSize)
    cands
      .join(corpusVecs.select(col(idCol).cast("long").as("corpus_id"),
        col(vecCol).cast("array<double>").as("vc")), "corpus_id")
      .join(incoming.select(col(idCol).cast("long").as("new_id"),
        col(vecCol).cast("array<double>").as("vn")), "new_id")
      .withColumn("cos", cosine(col("vn"), col("vc")))
      .filter(col("cos") >= threshold)
      .select("new_id", "corpus_id", "cos")
  }

  /** Brute-force truth for specs (local, O(n^2) — small n only). */
  def bruteForcePairs(vecs: Seq[(Long, Array[Double])], threshold: Double): Set[(Long, Long)] =
    (for {
      (ia, va) <- vecs
      (ib, vb) <- vecs
      if ia < ib
      if cosineKernel(va, vb) >= threshold
    } yield (ia, ib)).toSet
}

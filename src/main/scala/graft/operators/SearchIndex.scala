package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverted-index build + conjunctive (AND) term search with bounded
  * top-k — the corpus-inspection primitive a training-data pipeline uses
  * to audit what a filter kept ("show me the top documents containing all
  * of these terms") and the seed of benchmark decontamination by lookup.
  *
  * Spark-first shape:
  *  - `postings` is the classic narrow-row index: one full-text scan
  *    explodes tokens and aggregates (term, doc_id) -> tf. At 10^12 docs
  *    the posting table dwarfs the vocabulary, so everything downstream
  *    joins ON TERM against a tiny query set, which Catalyst broadcasts by
  *    size — the corpus text is never touched again.
  *  - `searchAll` joins the small (query_id, term) pairs, semi-restricts
  *    the postings in the scan (predicate on term pushes down when the
  *    posting table is stored term-partitioned), and reduces per
  *    (query_id, doc): a doc matches when it covers EVERY term of the
  *    query. Top-k per query uses the bounded MinNPair aggregate (flat
  *    <= 2k longs per buffer) instead of a rank window — a hot query
  *    matching 10^9 docs must not sort 10^9 rows in one window task.
  *  - ALL-INTEGER scoring (summed term frequency, ties to the smaller
  *    doc id) keeps the result byte-identical across engines, so the
  *    driver oracle (q_search_conjunctive) is a strict hash compare.
  *    BM25-style weighting would add floats; the integer tf score is the
  *    oracle-checkable core and the ranking seam is one Column swap.
  */
object SearchIndex {

  /** Fixed-point unit S of [[searchRanked]]'s term weights. */
  val Scale = 100000L

  /** (term, doc_id, tf) posting rows; tokenization mirrors
    * `TextOps.tokenize` (trim + split `\s+`) for SQL-oracle parity. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Docs containing ALL terms of each query, scored by total tf, top k
    * per query (score desc, doc_id asc). `queries` is (query_id:long,
    * terms:array<string>); duplicate terms within a query are collapsed
    * (a query is a term SET — coverage counts distinct terms). */
  def searchAll(postingsDf: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val qTerms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(array_distinct(col("terms"))).as("term"))
    val qSize = qTerms.groupBy("query_id").agg(count(lit(1)).as("n_terms"))
    val perDoc = postingsDf
      .join(qTerms, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), sum("tf").as("score"))
      .join(qSize, Seq("query_id"))
      .filter(col("n_hit") === col("n_terms"))
    topK(perDoc, "query_id", "doc_id", k)
  }

  /** Disjunctive (OR) ranked retrieval with BM25-SHAPED weighting in
    * ALL-INTEGER fixed-point arithmetic — the ranking seam `searchAll`'s
    * doc left open, realized without giving up the strict cross-engine
    * hash oracle.
    *
    * Per matched (term t, doc d), with corpus stats A = Σ tf (total
    * tokens), N = #docs with ≥1 token, dl = Σ tf over d, df = #docs
    * containing t, and BM25 constants k1 = 6/5, b = 3/4 cleared to
    * integers:
    *
    *   tfpart = (S·44·A·tf) div (20·A·tf + 6·A + 18·dl·N)
    *            // = S · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl)), avgdl = A/N
    *   w      = ((2(N−df)+1) · tfpart) div (2df+1)
    *            // Robertson idf's log replaced by the integer-exact
    *            // rational (N−df+½)/(df+½) — monotone in rarity, so the
    *            // RANKING behavior (rare terms up-weighted, tf saturating
    *            // in dl-normalized units) is BM25's; the absolute scale is
    *            // not. A float-log BM25 is a one-Column swap, priced at
    *            // losing bit-exact oracle parity.
    *   score(q,d) = Σ_t w  — ties broken by doc_id asc.
    *
    * Integer envelope (documented, not load-bearing at sandbox SFs):
    * tfpart ≤ 2.2·S, so w ≤ 2.2·S·(2N+1) and the tfpart numerator
    * S·44·A·tf stays under 2^63 for A·tf < 2×10^15 at S = 10^5 — at
    * 10^12-doc scale S drops or the expression moves to DECIMAL(38).
    *
    * Scale shape: corpus stats and per-query-term dfs are tiny aggregates
    * (broadcast); the only corpus-sized shuffle joins hit rows against doc
    * lengths on the narrow doc_id key; top-k per query is the bounded
    * MinNPair aggregate, never a window. In production the postings table
    * is stored (like the IVF index) with (dl, A, N) persisted beside it —
    * here the stats derive from `postingsDf` itself so blank-doc semantics
    * can't diverge from the index. */
  def searchRanked(postingsDf: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"bad k $k")
    val qTerms = queries
      .select(col("query_id").cast("long").as("query_id"),
        explode(array_distinct(col("terms"))).as("term"))
    // corpus stats: one aggregate row, cross-joined not collected
    val stats = postingsDf
      .agg(sum("tf").cast("long").as("A"),
        countDistinct("doc_id").cast("long").as("N"))
    // df only for query terms: per-term distinct-doc counts restricted by a
    // join on the query terms — vocabulary-sized df tables never materialize
    val dfq = postingsDf
      .join(qTerms.select("term").distinct(), Seq("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val docLen = postingsDf.groupBy("doc_id").agg(sum("tf").cast("long").as("dl"))
    // `div` (true integer division) only exists in SQL expression syntax;
    // float `/` + cast would silently lose exactness past 2^53
    val w = expr(
      s"((2L * (N - df) + 1L) * ((${Scale}L * 44L * A * tf)" +
        " div (20L * A * tf + 6L * A + 18L * dl * N))) div (2L * df + 1L)")
    val perDoc = postingsDf
      .join(qTerms, Seq("term"))
      .join(dfq, Seq("term"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(stats)
      .groupBy("query_id", "doc_id")
      .agg(sum(w).cast("long").as("score"))
    topK(perDoc, "query_id", "doc_id", k)
  }

  /** `(group, item, score)`: the `k` best rows of each `group` of
    * `(group, item, score)` rows, by score desc, ties to the smaller item.
    * MinNPair on key = -score (largest scores sort first) — bounded
    * buffers of <= 2k longs, no window; the variant keeps the keys so the
    * score comes back without re-joining the input. Shared with
    * [[NgramJaccard.topKSimilar]]'s per-doc neighbor queue. */
  private[operators] def topK(rows: DataFrame, group: String, item: String,
                              k: Int): DataFrame = {
    val minN = FixedSample.minN(new MinNKeepPairsAgg(k))
    rows
      .groupBy(group)
      .agg(minN((-col("score")).cast("long"), col(item)).as("_pairs"))
      .select(col(group), explode(expr(
        "transform(sequence(0, size(_pairs) div 2 - 1)," +
          s" i -> struct(-_pairs[2*i] AS score, _pairs[2*i+1] AS $item))")).as("h"))
      .select(col(group), col(s"h.$item").as(item), col("h.score").as("score"))
  }

  /** Positional posting rows (term, doc_id, positions: sorted int array)
    * — the phrase-capable index. Positions are 0-based token offsets. */
  def positionalPostings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")))
      .groupBy(col("col").as("term"), col("doc_id"))
      .agg(sort_array(collect_list("pos")).as("positions"))

  /** Exact phrase search over positional postings: a document matches
    * phrase (t_0 … t_{k-1}) at position p iff every t_i occurs at p + i.
    * Realized with NO positional self-join: the broadcast (phrase_id,
    * term, offset) rows join postings ON TERM, each hit's position list
    * is shifted by its offset, and one per-(phrase, doc) aggregate
    * intersects the k shifted lists — surviving positions ARE the match
    * starts, so overlapping occurrences count correctly (a replace-based
    * count would not). Duplicate phrase terms work unchanged: each offset
    * joins its own copy of the posting row.
    *
    * Scale: postings shuffle on (phrase_id, doc) after a broadcast term
    * semi-restriction — narrow rows, k per doc at most; per-doc position
    * lists are doc-bounded like every text kernel. Returns (phrase_id,
    * doc_id, n_occurrences > 0). */
  def phraseSearch(posPostings: DataFrame, phrases: DataFrame): DataFrame = {
    val pTerms = phrases
      .select(col("phrase_id").cast("long").as("phrase_id"),
        posexplode(col("terms")).as(Seq("off", "term")))
    val pLen = pTerms.groupBy("phrase_id").agg(count(lit(1)).as("k"))
    posPostings
      .join(pTerms, Seq("term"))
      .select(col("phrase_id"), col("doc_id"),
        expr("transform(positions, p -> p - off)").as("shifted"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_hit"), collect_list("shifted").as("ls"))
      .join(pLen, Seq("phrase_id"))
      .filter(col("n_hit") === col("k")) // every phrase slot found in the doc
      .select(col("phrase_id"), col("doc_id"),
        expr("size(aggregate(slice(ls, 2, size(ls) - 1), ls[0]," +
          " (acc, x) -> array_intersect(acc, x)))").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** [[FixedSample.MinNPairAgg]] that keeps the sorted flat (key, id)
    * pairs in `finish` (the base class drops the keys) — here the key IS
    * the negated score, which [[topK]] needs back. */
  private class MinNKeepPairsAgg(n: Int) extends FixedSample.MinNPairAgg(n) {
    override def finish(r: Array[Long]): Array[Long] = r
  }
}

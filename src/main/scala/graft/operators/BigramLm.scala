package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Count-based bigram language-model scoring — the perplexity-filter
  * shape of web-corpus curation (CCNet arXiv:1911.00359 trains a 5-gram
  * KenLM and keeps low-perplexity documents; the same decision needs only
  * "how probable is each next token under corpus statistics"). Here the
  * model IS the count tables: add-one-smoothed bigram probability in
  * ALL-INTEGER fixed point,
  *
  *   s_i = (S·(c(w_{i-1}, w_i) + 1)) div (c(w_{i-1}) + V)
  *
  * with S the scale, c(·) corpus counts, V the vocabulary size. A
  * document's score is Σ s_i over its bigrams and the length-normalized
  * `avg_fp = score div max(n_bigrams, 1)` — the integer stand-in for
  * negative-log-perplexity (monotone in the product of smoothed
  * probabilities is what a REAL perplexity is; the fixed-point SUM of
  * probabilities is deliberately log-free so the cross-engine hash oracle
  * stays exact — drift-free division, no libm). High avg ⇒ the document's
  * transitions are common in the corpus; gibberish and boilerplate-free
  * noise score near zero. A held-out/trained LM swaps in as the same two
  * count tables without touching the plan.
  *
  * Scale shape: the count tables are the classic narrow keyed aggregates
  * (one corpus scan each, map-side partials); scoring joins the exploded
  * doc-bigram rows against them ON THE TERM KEYS — at 10^12 docs both
  * sides shuffle on (w1, w2)/(w1), never on text, and the per-doc
  * aggregate is a narrow (doc_id, long) reduce. The vocabulary size is a
  * 1-row aggregate cross-joined broadcast (never collected). No windows,
  * no driver loops.
  */
object BigramLm {

  private def toksCol(textCol: String) =
    filter(split(trim(col(textCol)), "\\s+"), x => x =!= "")

  /** (w, cu) corpus unigram counts; tokenization mirrors `TextOps.tokenize`. */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(toksCol(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))

  /** (w1, w2, cb) corpus bigram counts. */
  def bigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docBigrams(docs, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))

  /** One row per in-document bigram occurrence: (doc_id, w1, w2). */
  def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), toksCol(textCol).as("_toks"))
      // guard: sequence(0, -1) would generate a DESCENDING range, not an
      // empty one — short docs must yield zero bigrams
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(_toks) >= 2 THEN transform(sequence(0, size(_toks) - 2)," +
          " i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2)) ELSE array() END")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** One row per in-document trigram occurrence: (doc_id, w1, w2, w3). */
  def docTrigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"), toksCol(textCol).as("_toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(_toks) >= 3 THEN transform(sequence(0, size(_toks) - 3)," +
          " i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2, _toks[i + 2] AS w3))" +
          " ELSE array() END")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"), col("p.w3"))

  /** (w1, w2, w3, ct) corpus trigram counts. */
  def trigramCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docTrigrams(docs, idCol, textCol)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("ct"))

  /** Fixed-point unit of every per-transition score. */
  val Scale = 1000000L
  /** Jelinek–Mercer mixture weights (unigram, bigram, trigram) over
    * [[MixtureDen]]; they sum to it. */
  val Mixture: (Int, Int, Int) = (1, 3, 6)
  val MixtureDen = 10

  /** Interpolated trigram scoring (Jelinek–Mercer with integer mixture
    * weights λ = [[Mixture]]/[[MixtureDen]] over unigram, bigram,
    * trigram contexts — the standard back-off-free interpolation), each
    * add-one-smoothed conditional in its own fixed-point division
    * (S = [[Scale]], D = [[MixtureDen]]):
    *
    *   s_i = (λ3·S·(c(w1w2w3)+1)) div (D·(c(w1w2)+V))
    *       + (λ2·S·(c(w2w3)+1))   div (D·(c(w2)+V))
    *       + (λ1·S·(c(w3)+1))     div (D·(T+V))
    *
    * Per-term integer rounding is part of the definition (the oracle
    * states the identical three divisions). Docs with < 3 tokens score
    * (0, 0, 0); five narrow-key joins + one broadcast stats row. */
  def scoreInterpolated(docs: DataFrame, idCol: String, textCol: String,
                        uni: DataFrame, bi: DataFrame, tri: DataFrame): DataFrame = {
    val (l1, l2, l3) = Mixture
    val stats = uni.agg(count(lit(1)).cast("long").as("V"),
      sum("cu").cast("long").as("T"))
    val scored = docTrigrams(docs, idCol, textCol)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.toDF("w1", "w2", "c12"), Seq("w1", "w2"), "left")
      .join(bi.toDF("w2", "w3", "c23"), Seq("w2", "w3"), "left")
      .join(uni.toDF("w2", "cu2"), Seq("w2"), "left")
      .join(uni.toDF("w3", "cu3"), Seq("w3"), "left")
      .crossJoin(stats)
      .select(col("doc_id"), expr(
        s"(${l3}L * ${Scale}L * (coalesce(ct, 0L) + 1L))" +
          s" div (${MixtureDen}L * (coalesce(c12, 0L) + V))" +
          s" + (${l2}L * ${Scale}L * (coalesce(c23, 0L) + 1L))" +
          s" div (${MixtureDen}L * (coalesce(cu2, 0L) + V))" +
          s" + (${l1}L * ${Scale}L * (coalesce(cu3, 0L) + 1L))" +
          s" div (${MixtureDen}L * (T + V))").as("s"))
    perDoc(docs, idCol, scored, "n_trigrams")
  }

  /** Per-document LM score over the given count tables. Every input doc
    * gets a row; docs with < 2 tokens score (0, 0, 0). Bigrams absent
    * from `bi` count as 0 (unseen transition — the add-one floor), tokens
    * absent from `uni` as 0 context count; self-scoring the training
    * corpus never takes either path. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            uni: DataFrame, bi: DataFrame): DataFrame = {
    val vrow = uni.agg(count(lit(1)).cast("long").as("V"))
    val scored = docBigrams(docs, idCol, textCol)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(vrow)
      .select(col("doc_id"), expr(
        s"(${Scale}L * (coalesce(cb, 0L) + 1L)) div (coalesce(cu, 0L) + V)").as("s"))
    perDoc(docs, idCol, scored, "n_bigrams")
  }

  /** Every doc of `docs` with its `(doc_id, s)` term scores summed:
    * (doc_id, `nCol` = terms scored, score, avg_fp), zeros when it has none. */
  private def perDoc(docs: DataFrame, idCol: String, termScores: DataFrame,
                     nCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(termScores.groupBy("doc_id")
        .agg(count(lit(1)).as(nCol), sum("s").cast("long").as("score")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col(nCol), lit(0L)).as(nCol),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("avg_fp", expr(s"score div greatest($nCol, 1L)"))
}

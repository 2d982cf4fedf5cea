package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequency-ranked vocabulary build + token-id encoding — the step between
  * a cleaned corpus and a trainable token stream (word-level here; the
  * BPE-ish lane is `TextOps.bpeTokenCount`). Deterministic by
  * construction: vocab order is (count desc, token asc), so the same
  * corpus always produces the same id mapping on any cluster layout.
  *
  * Scale shape (10^12 docs):
  *  - counts: one text scan → groupBy(token) — narrow rows, map-side
  *    partial aggregation; the aggregate output is vocabulary-sized
  *    (~10^6), corpus-size-independent.
  *  - top-V selection: distributed TakeOrdered (each partition keeps its
  *    top V, the driver merges) — the only driver-sized object is the
  *    vocabulary itself, which is a model artifact like IVF centroids.
  *  - id assignment: a row_number window over the V-row vocab —
  *    single-task by design and bounded by V, never by the corpus.
  *  - encode: broadcast the vocab, map-only explode + re-collect by
  *    position; the corpus text is scanned exactly once.
  */
object Vocab {

  /** Top-`v` tokens as (token, id, cnt), ids 0..v-1 in (cnt desc, token
    * asc) order. Tokenization mirrors `TextOps.tokenize`. */
  def build(docs: DataFrame, textCol: String, v: Int): DataFrame = {
    require(v >= 1, s"bad vocab size $v")
    val counts = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(v) // TakeOrdered: per-partition top-v, merged at the driver
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token").asc) // V rows — bounded window
    counts.withColumn("id", (row_number().over(w) - 1).cast("int"))
      .select("token", "id", "cnt")
  }

  /** Encode each doc as its in-vocab token-id sequence (document order
    * preserved); OOV tokens are dropped and counted. Output:
    * (doc_id, n_tokens, n_oov, ids:array<int>). */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    toks
      .join(vocab.select("token", "id"), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        expr("transform(array_sort(collect_list(CASE WHEN id IS NOT NULL" +
          " THEN struct(pos, id) END)), x -> x.id)").as("ids"))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic global corpus shuffle with contiguous position
  * assignment — training-data pipelines need the corpus in a fixed
  * pseudo-random order (data-order reproducibility across re-runs), with
  * every row carrying its global position (for epoch slicing / resume).
  *
  * The permutation key is the md5 of the id (same keying as
  * [[StratifiedSample]] / [[FixedSample]] — one notion of "the document's
  * uniform" everywhere), tie-broken by id, so the order is a pure
  * function of the ids: engine-independent and strictly oracle-checkable
  * (row_number over the same ORDER BY).
  *
  * Position assignment is the classic TWO-PHASE scan, never a
  * single-task window:
  *  1. range-repartition + in-partition sort by the key (Spark's
  *     distributed sort machinery: sampled range bounds, no global
  *     single-task stage);
  *  2. one count per partition (a #partitions-sized driver array — the
  *     only driver-side data), cumulated into partition offsets;
  *  3. map-only zip: position = partition offset + local index.
  * A `row_number() OVER (ORDER BY ...)` would funnel 10^12 rows through
  * ONE window task; this shape's widest driver object is one long per
  * partition. (Same pattern as [[SequencePacker]]'s budget scan.)
  */
object GlobalShuffle {

  /** Input must have a unique castable-to-string id column. Output: the
    * input columns + `pos` (0-based contiguous global position in
    * (md5(id), id) order). */
  def withPositions(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    // pin the sorted layout: the count job and the zip job must see
    // IDENTICAL partitions
    val keyed = GraftBridge.materialize(df
      .withColumn("_k", md5(col(idCol).cast("string")))
      .repartitionByRange(col("_k"), col(idCol))
      .sortWithinPartitions(col("_k"), col(idCol)))
    val counts = GraftBridge.internalRows(keyed).mapPartitionsWithIndex(
      (i, it) => Iterator((i, it.size.toLong))).collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
    val schema = StructType(keyed.schema.fields :+ StructField("pos", LongType, nullable = false))
    val out = keyed.rdd.mapPartitionsWithIndex { (i, it) =>
      var p = offsets(i)
      it.map { r => val row = Row.fromSeq(r.toSeq :+ p); p += 1; row }
    }
    spark.createDataFrame(out, schema).drop("_k")
  }
}

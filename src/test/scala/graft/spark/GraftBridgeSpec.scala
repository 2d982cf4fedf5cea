package graft.spark

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `GraftBridge.materialize` rebuilds each frame with the exact row count
  * and byte size of the rows it stored, so Catalyst chooses join
  * strategies from real sizes and no caller hints a broadcast. */
class GraftBridgeSpec extends AnyFunSuite with SparkSuiteBase {

  /** The summed `UnsafeRow` sizes of `df`'s physical rows. */
  private def bytesOf(df: DataFrame): Long =
    df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong)
      .fold(0L)(_ + _)

  test("materializeCounting's frame reports its exact row count and byte size") {
    val src = spark.range(0, 1000, 1, 4)
      .select(col("id"), concat(lit("row-"), col("id")).as("s"))
    val (m, rows, matched) = GraftBridge.materializeCounting(src, _.getLong(0) % 10 == 0)
    assert(rows == 1000 && matched == 100)
    val stats = m.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(rows)))
    assert(stats.sizeInBytes == BigInt(bytesOf(src)))
    assert(stats.sizeInBytes == BigInt(bytesOf(m)), "stored rows differ in size from the source rows")
  }

  test("a small materialized frame joined to a parquet scan plans a broadcast hash join unhinted") {
    val work = tmpDir("bridge")
    spark.range(0, 20000, 1, 2)
      .select(col("id").as("k"), sha2(col("id").cast("string"), 256).as("payload"))
      .write.parquet(s"$work/big")
    val big = spark.read.parquet(s"$work/big")
    val small = GraftBridge.materialize(spark.range(0, 50, 1, 2).select(col("id").as("k")))
    // the threshold sits between the two sizes: only the materialized
    // frame's own stats can make it the build side
    val threshold = 64L * 1024
    assert(small.queryExecution.optimizedPlan.stats.sizeInBytes < threshold)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes > threshold)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      val joined = big.join(small, "k")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
      assert(joined.count() == 50)
    }
  }

  test("a loop of materialized self-joins keeps each round's stats to its own bytes") {
    // Dataset.localCheckpoint carries the replaced plan's estimate forward,
    // so a self-join loop multiplies it every round; materialize measures
    // each round's stored rows afresh
    var f = GraftBridge.materialize(spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).as("v")))
    for (round <- 1 to 10) {
      val x = f.select(col("id"), col("v").as("vx"))
      val y = f.select(col("id"), col("v").as("vy"))
      val (next, rows, _) = GraftBridge.materializeCounting(
        x.join(y, "id").select(col("id"), ((col("vx") + col("vy")) % 7).as("v")))
      val stats = next.queryExecution.optimizedPlan.stats
      assert(rows == 200, s"round $round")
      assert(stats.rowCount.contains(BigInt(rows)), s"round $round")
      assert(stats.sizeInBytes == BigInt(bytesOf(next)), s"round $round: ${stats.sizeInBytes}")
      f = next
    }
  }

  test("appendLocalParquet writes driver-side rows and refuses a frame that needs a job") {
    val dir = tmpDir("append")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k STRING, n BIGINT")
    val rows = Seq(org.apache.spark.sql.Row("a", 1L), org.apache.spark.sql.Row("b", 2L))
    import scala.jdk.CollectionConverters._
    GraftBridge.appendLocalParquet(spark.createDataFrame(rows.asJava, schema), dir)
    GraftBridge.appendLocalParquet(spark.createDataFrame(rows.take(1).asJava, schema), dir)
    assert(spark.read.parquet(dir).collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a", 1L), ("a", 1L), ("b", 2L)))
    val e = intercept[IllegalArgumentException](
      GraftBridge.appendLocalParquet(spark.range(3).toDF(), dir))
    assert(e.getMessage.contains("LocalRelation"))
    assert(spark.read.parquet(dir).count() == 3)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}

package graft.spark

import graft.core.WebPages
import graft.operators.IvfIndex
import graft.pipeline.{NearDupPipeline, ParquetTableIO}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Schema sidecar of the parquet TableIO: every read hands the parquet
  * reader the schema stored at write time instead of inferring it, and
  * that schema must be exactly the one inference would have produced
  * (names, types, nullability, field order and metadata; partition
  * columns last). A directory without a sidecar keeps the inferred read. */
class TableIOSchemaSpec extends AnyFunSuite with SparkSuiteBase {
  import spark.implicits._

  private val Stages = Seq("extracted", "edges_exact", "edges_minhash", "edges_simhash",
    "edges_substring", "clusters", "cluster_stats")

  private def inferred(path: String): StructType = spark.read.parquet(path).schema

  private def sidecars(root: String): Seq[Path] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName == "_graft_schema.json").toSeq
  }

  private def pipelineRun(dir: String, pages: DataFrame): NearDupPipeline.Result =
    NearDupPipeline.run(spark, pages,
      NearDupPipeline.Config(workDir = dir, inputSnapshotId = Some("snap-schema")))

  private def clusterRows(r: NearDupPipeline.Result): Seq[(String, Long, Long)] =
    r.clusters.orderBy("url").collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq

  private lazy val pages: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(WebPages.generate(200, 23L), 8))

  test("pipeline stage tables and _metrics: read/readAt schema == inferred parquet schema") {
    val dir = tmpDir("schema-pipe")
    pipelineRun(dir, pages).clusters.count()
    val io = new ParquetTableIO(spark, dir)
    // one sidecar per stage version dir plus the flat metrics table's
    assert(sidecars(dir).size == Stages.size + 1, sidecars(dir).mkString(", "))
    Stages.foreach { t =>
      val Seq((id, _)) = io.snapshots(t)
      val want = inferred(s"$dir/$t/v$id")
      assert(io.read(t).schema == want, t)
      assert(io.readAt(t, id).schema == want, t)
    }
    assert(io.read("_metrics").schema == inferred(s"$dir/_metrics"))
  }

  test("partitioned (IvfIndex cell layout), compacted and upserted heads keep the inferred schema") {
    val dir = tmpDir("schema-io")
    val io = new ParquetTableIO(spark, dir)
    val vecs = (0 until 200).map(i => (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 13) % 17).toDouble)))
      .toDF("id", "v")
    IvfIndex.buildStored(vecs, "id", "v", k = 4, io, "ivf_index", iters = 2)
    val Seq((ivf, _)) = io.snapshots("ivf_index")
    val ivfSchema = io.read("ivf_index").schema
    assert(ivfSchema == inferred(s"$dir/ivf_index/v$ivf"))
    assert(ivfSchema.fieldNames.last == "cell")
    assert(io.readAt("ivf_index", ivf).schema == ivfSchema)
    assert(io.read("ivf_index_centroids").schema == inferred(s"$dir/ivf_index_centroids/v1"))

    // the partition column leads in the written frame and still comes last on read
    io.overwrite("cells", vecs.withColumn("cell", (col("id") % 5).cast("int"))
      .select("cell", "id", "v"), partitionBy = Seq("cell"))
    io.commit("cells", "f1")
    assert(io.read("cells").schema == inferred(s"$dir/cells/v1"))
    assert(io.read("cells").schema.fieldNames.toSeq == Seq("id", "v", "cell"))

    // field metadata, non-nullable fields and nested types round-trip
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("comment", "doc key").build()
    val docs = (0 until 300).map(i => (i.toLong, s"body $i", Seq(i, i + 1))).toDF("id", "x", "ys")
      .select(col("id").as("id", meta), col("x"), col("ys"), struct(col("id"), col("x")).as("s"))
    io.overwrite("docs", docs.repartition(8))
    io.commit("docs", "f1")
    assert(io.read("docs").schema == inferred(s"$dir/docs/v1"))
    assert(io.read("docs").schema("id").metadata == meta)

    val compacted = io.compact("docs", targetFiles = 2)
    assert(io.read("docs").schema == inferred(s"$dir/docs/v$compacted"))
    assert(io.readAt("docs", compacted).schema == io.readAt("docs", 1).schema)

    io.upsert("docs", docs.filter(col("id") < 10).withColumn("x", lit("edit")), Seq("id"))
    io.commit("docs", "f2")
    val upserted = io.snapshots("docs").last._1
    assert(io.read("docs").schema == inferred(s"$dir/docs/v$upserted"))
    assert(io.read("docs").filter(col("x") === "edit").count() == 10)
    assert(io.diff("docs", compacted, upserted).count() == 20)
  }

  test("an uncommitted head rewritten with a new schema reads under the new schema") {
    val dir = tmpDir("schema-redo")
    val io = new ParquetTableIO(spark, dir)
    io.overwrite("t", Seq((1L, "a")).toDF("id", "x"))
    io.commit("t", "f1")
    io.overwrite("t", Seq((1L, "PARTIAL")).toDF("id", "x")) // crashed writer
    io.overwrite("t", Seq((1L, 2.5)).toDF("id", "score"))   // recompute reuses the slot
    io.commit("t", "f2")
    assert(io.read("t").schema == inferred(s"$dir/t/v2"))
    assert(io.read("t").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 2.5)))
    assert(io.readAt("t", 1).schema.fieldNames.toSeq == Seq("id", "x"))
  }

  test("sidecar-less snapshots (written before the sidecar existed) read inferred and resume identically") {
    val dir = tmpDir("schema-legacy")
    val first = clusterRows(pipelineRun(dir, pages))
    val io = new ParquetTableIO(spark, dir)
    val withSidecar = (Stages :+ "_metrics").map(t => t -> io.read(t).schema).toMap
    val side = sidecars(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    side.foreach(fs.delete(_, false))
    assert(sidecars(dir).isEmpty)
    (Stages :+ "_metrics").foreach(t => assert(io.read(t).schema == withSidecar(t), t))
    // resume over an empty input: every stage must come from the committed
    // sidecar-less snapshots, not be recomputed
    val resumed = pipelineRun(dir, pages.limit(0))
    assert(clusterRows(resumed) == first, "resume from sidecar-less snapshots changed clusters")
    assert(resumed.metrics.select("stage").distinct().count() == Stages.size)
  }
}

package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ParquetTableIO
import org.apache.spark.sql.functions._

/** Snapshot compaction: data-identical rewrite, fewer files, same
  * fingerprint (resume still matches), history grows, and pre-compaction
  * snapshots stay time-travelable. */
class TableIOCompactSpec extends AnyFunSuite with SparkSuiteBase {
  import spark.implicits._

  test("compact: fewer files, identical rows, fingerprint preserved, history intact") {
    val root = tmpDir("compact")
    val io = new ParquetTableIO(spark, root)
    val df = (0 until 500).map(i => (i.toLong, s"text body $i")).toDF("doc_id", "text")

    io.overwrite("docs", df.repartition(32)) // the small-files problem
    io.commit("docs", "fp-v1")
    val v1 = io.snapshots("docs").last._1
    val filesBefore = io.read("docs").inputFiles.length
    assert(filesBefore >= 16, s"fixture must start fragmented, got $filesBefore")

    val v2 = io.compact("docs", targetFiles = 2)
    assert(v2 != v1)
    val filesAfter = io.read("docs").inputFiles.length
    assert(filesAfter <= 2, s"expected <= 2 files, got $filesAfter")

    // same data, same fingerprint, both snapshots committed + addressable
    assert(io.committedFingerprint("docs").contains("fp-v1"))
    assert(io.snapshots("docs").map(_._1) == Seq(v1, v2))
    val before = io.readAt("docs", v1).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val after = io.readAt("docs", v2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("fault injection: crash between write and commit — resume recomputes, never reads the partial head") {
    val root = tmpDir("fault")
    val io = new ParquetTableIO(spark, root)
    io.overwrite("t", Seq((1L, "good"), (2L, "good")).toDF("id", "x"))
    io.commit("t", "fp-run1")
    val v1 = io.snapshots("t").last._1
    // run 2 dies after the write, before the _GRAFT_COMMITS append
    io.overwrite("t", Seq((1L, "PARTIAL")).toDF("id", "x"))
    // the resume check (committedFingerprint == this run's fp) must say
    // "recompute" — the partial head has no committed fingerprint
    assert(io.committedFingerprint("t").isEmpty)
    // committed history is untouched and still readable
    assert(io.readAt("t", v1).collect().map(_.getString(1)).forall(_ == "good"))
    // a recompute overwrite reuses the orphan slot and commits cleanly
    io.overwrite("t", Seq((1L, "redo"), (2L, "redo")).toDF("id", "x"))
    io.commit("t", "fp-run2")
    assert(io.committedFingerprint("t").contains("fp-run2"))
    assert(io.read("t").collect().map(_.getString(1)).forall(_ == "redo"))
    assert(io.snapshots("t").size == 2)
  }

  test("discardUncommittedHead: restores the committed head, idempotent, no-op when committed") {
    val root = tmpDir("discard")
    val io = new ParquetTableIO(spark, root)
    io.overwrite("t", Seq((1L, "a")).toDF("id", "x"))
    io.commit("t", "f1")
    assert(!io.discardUncommittedHead("t"), "committed head must not be discarded")
    io.overwrite("t", Seq((9L, "PARTIAL")).toDF("id", "x")) // crashed writer
    assert(io.discardUncommittedHead("t"))
    assert(io.committedFingerprint("t").contains("f1"))
    assert(io.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    assert(!io.discardUncommittedHead("t"))
  }

  test("diff: update = delete+insert, pure add = insert, pure remove = delete") {
    val root = tmpDir("diff")
    val io = new ParquetTableIO(spark, root)
    io.overwrite("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x"))
    io.commit("t", "v1")
    io.overwrite("t", Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "x"))
    io.commit("t", "v2")
    val ids = io.snapshots("t").map(_._1)
    val got = io.diff("t", ids.head, ids.last)
      .collect().map(r => (r.getString(2), r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      ("delete", 2L, "b"), ("insert", 2L, "B"),   // update
      ("delete", 3L, "c"),                        // removed
      ("insert", 4L, "d")))                       // added
  }

  test("upsert: updates replace by key, inserts appear, deletes drop, rest kept") {
    val root = tmpDir("upsert")
    val io = new ParquetTableIO(spark, root)
    val v1 = (0 until 50).map(i => (i.toLong, s"body $i")).toDF("id", "x")
    io.overwrite("t", v1); io.commit("t", "f1")
    val updates = Seq((3L, "EDIT 3"), (7L, "EDIT 7"), (100L, "NEW 100")).toDF("id", "x")
    val dels = Seq(Tuple1(9L), Tuple1(7L)).toDF("id") // 7 is BOTH updated and deleted
    io.upsert("t", updates, Seq("id"), Some(dels))
    io.commit("t", "f2")
    val got = io.read("t").collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val want = (0 until 50).filterNot(i => i == 3 || i == 7 || i == 9)
      .map(i => (i.toLong, s"body $i")).toMap ++ Map(3L -> "EDIT 3", 100L -> "NEW 100")
    assert(got == want) // delete wins over update for id 7
    // history intact: v1 still time-travelable
    val ids = io.snapshots("t").map(_._1)
    assert(ids.size == 2 && io.readAt("t", ids.head).count() == 50)
  }

  test("upsert refuses duplicate update keys and uncommitted heads") {
    val root = tmpDir("upsert2")
    val io = new ParquetTableIO(spark, root)
    io.overwrite("t", Seq((1L, "a")).toDF("id", "x"))
    // head not committed yet
    intercept[IllegalArgumentException] {
      io.upsert("t", Seq((1L, "b")).toDF("id", "x"), Seq("id"))
    }
    io.commit("t", "f1")
    intercept[IllegalArgumentException] {
      io.upsert("t", Seq((1L, "b"), (1L, "c")).toDF("id", "x"), Seq("id"))
    }
  }

  test("compact and upsert keep a partitioned head partitioned (IvfIndex cell layout)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.operators.IvfIndex
    val root = tmpDir("compact-cells")
    val io = new ParquetTableIO(spark, root)
    val vecs = (0 until 400).map(i => (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 13) % 23).toDouble)))
      .toDF("id", "v")
    val cents = IvfIndex.buildStored(vecs, "id", "v", k = 4, io, "ivf_index", iters = 2)
    val queries = vecs.filter(col("id") < 8)
    def rows() = io.read("ivf_index").orderBy("neighbor_id").collect().map(_.toSeq).toSeq
    def answers() = IvfIndex.topKStored(io, "ivf_index", queries, "id", "v",
        kNeighbors = 5, cents, nProbe = 2)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def cellDirs(): Seq[String] = {
      val head = io.snapshots("ivf_index").last._1
      new java.io.File(s"$root/ivf_index/v$head").list().filter(_.startsWith("cell=")).sorted.toSeq
    }
    def cellPartitionFilters(): Seq[String] = {
      val exec = io.read("ivf_index").filter(col("cell") === 1).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      exec.collect { case f: FileSourceScanExec => f.partitionFilters.map(_.sql) }.flatten
    }
    val rows0 = rows()
    val answers0 = answers()
    val cells0 = cellDirs()
    assert(cells0.nonEmpty, "fixture index must be cell-partitioned")
    assert(cellPartitionFilters().exists(_.contains("cell")))

    io.compact("ivf_index", targetFiles = 2)
    assert(io.snapshots("ivf_index").size == 2)
    assert(cellDirs() == cells0, "compaction flattened the cell layout")
    assert(cellPartitionFilters().exists(_.contains("cell")),
      s"cell = 1 lost partition pruning after compact: ${cellPartitionFilters()}")
    assert(rows() == rows0)
    assert(answers() == answers0)

    // re-upserting existing rows leaves the content unchanged
    val head = io.read("ivf_index")
    io.upsert("ivf_index", head.filter(col("neighbor_id") < 50), Seq("neighbor_id"))
    io.commit("ivf_index", io.snapshots("ivf_index").last._2)
    assert(io.snapshots("ivf_index").size == 3)
    assert(cellDirs() == cells0, "upsert flattened the cell layout")
    assert(cellPartitionFilters().exists(_.contains("cell")),
      s"cell = 1 lost partition pruning after upsert: ${cellPartitionFilters()}")
    assert(rows() == rows0)
    assert(answers() == answers0)
  }

  test("compact refuses an uncommitted head") {
    val root = tmpDir("compact2")
    val io = new ParquetTableIO(spark, root)
    io.overwrite("docs", Seq((1L, "a")).toDF("doc_id", "text"))
    intercept[IllegalStateException] { io.compact("docs", 1) }
  }
}

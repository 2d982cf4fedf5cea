package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage seam for pipeline stage tables (SURVEY.md §7 hard part 4).
  *
  * The pipeline's resume logic is written against this trait only: a stage
  * is recomputed unless its HEAD snapshot is committed with a fingerprint
  * (pipeline Config + input identity hash) matching this run's. The
  * sandbox realization is parquet dirs with versioned snapshot subdirs and
  * a commit log; the production realization is an Iceberg catalog where
  * `commit` is the table commit, `snapshots` reads the snapshot log, and
  * `readAt` is `VERSION AS OF` time travel — the pipeline code is
  * identical.
  *
  * Reads carry the schema the table was written with: Iceberg keeps it in
  * table metadata, and the parquet realization keeps it in a sidecar file
  * next to the data. Neither infers a schema from data files, so opening a
  * table launches no Spark job (parquet inference is one footer-reading
  * job per read) and a fully committed resume launches none at all.
  */
trait TableIO {
  /** Read the table HEAD (the latest written snapshot, committed or
    * not). */
  def read(table: String): DataFrame
  /** Write the full table content as a NEW head snapshot. NOT yet
    * committed; a crash before `commit` leaves the previous committed
    * snapshots untouched and the head is overwritten by the next run.
    * `partitionBy` lays the snapshot out partitioned by those columns
    * (e.g. the IVF index's `cell`), enabling partition pruning on read. */
  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit
  /** Append driver-side rows (metrics/lineage table; `df` is built from
    * local rows, e.g. `createDataFrame(rows.asJava, schema)`). Appends are
    * self-committing. */
  def append(table: String, df: DataFrame): Unit
  def exists(table: String): Boolean
  /** Commit the head snapshot under `fingerprint` (atomic wrt
    * `committedFingerprint`); the snapshot becomes visible in
    * [[snapshots]] and addressable by [[readAt]]. */
  def commit(table: String, fingerprint: String): Unit
  /** The fingerprint the HEAD snapshot was committed under, if committed. */
  def committedFingerprint(table: String): Option[String]
  /** Committed snapshot history, oldest first: (snapshotId, fingerprint).
    * The Iceberg shape: every successful commit is retained and
    * addressable — resume reads head, audits/time travel read any. */
  def snapshots(table: String): Seq[(Long, String)]
  /** Read the table as of a COMMITTED snapshot id (time travel). */
  def readAt(table: String, snapshotId: Long): DataFrame
  /** Drop an UNCOMMITTED head snapshot so the head becomes the last
    * committed one again; returns whether anything was discarded.
    * Crash-recovery primitive: a writer that died between `overwrite` and
    * `commit` leaves a partial head that [[upsert]] (which merges INTO the
    * committed head) must never read — the recovering writer discards it
    * and re-derives the epoch from the committed snapshot. No-op when the
    * head is committed or the table is empty. On Iceberg this is free
    * (uncommitted writes were never visible); here it deletes the orphan
    * version dirs. */
  def discardUncommittedHead(table: String): Boolean
  /** Changelog between two committed snapshots: full-row comparison,
    * `change = 'delete'` for rows present at `fromId` but gone at `toId`,
    * `'insert'` for the reverse (an update is one of each) — the
    * incremental-processing primitive (process only what changed since
    * the last committed run). On Iceberg this is the native changelog /
    * incremental read, which costs nothing; this generic fallback works
    * on any snapshot store at the cost of one shuffle of each snapshot —
    * keyed `exceptAll`s, no driver-side rows. */
  def diff(table: String, fromId: Long, toId: Long): DataFrame = {
    val a = readAt(table, fromId)
    val b = readAt(table, toId)
    a.exceptAll(b).withColumn("change", org.apache.spark.sql.functions.lit("delete"))
      .unionByName(b.exceptAll(a).withColumn("change", org.apache.spark.sql.functions.lit("insert")))
  }

  /** Keyed upsert (Iceberg's `MERGE INTO target USING updates ON key WHEN
    * MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`) — the write path
    * of a daily corpus refresh: rows of the committed HEAD whose key
    * collides with an update row are replaced, everything else is kept,
    * update rows win whole-row. `deleteKeys` (optional) drops rows by key
    * (the WHEN MATCHED DELETE arm — takedowns, robots revocations).
    * Realized as one left-anti per arm + a union, i.e. narrow key-hash
    * shuffles of the two inputs; on Iceberg the same statement is a
    * metadata-level merge-on-read. Writes the new (uncommitted) head; the
    * caller commits with its own fingerprint, same discipline as every
    * write. Requires the current head to be COMMITTED — an uncommitted
    * head would be rewritten in place underneath the lazy merged plan
    * that still reads it.
    *
    * Update rows must be key-unique (enforced: duplicate update keys
    * would make "update rows win" order-dependent). */
  def upsert(table: String, updates: DataFrame, keyCols: Seq[String],
             deleteKeys: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.functions.{count => fcount, lit}
    require(keyCols.nonEmpty, "upsert needs key columns")
    require(committedFingerprint(table).isDefined,
      s"upsert($table): head is not a committed snapshot")
    val dupKeys = updates.groupBy(keyCols.map(updates(_)): _*)
      .agg(fcount(lit(1)).as("_n")).filter("_n > 1").limit(1).count()
    require(dupKeys == 0, s"upsert updates carry duplicate keys on $keyCols")
    val head = read(table)
    val kept0 = head.join(updates.select(keyCols.map(updates(_)): _*),
      keyCols, "left_anti")
    val kept = deleteKeys match {
      case Some(d) => kept0.join(d.select(keyCols.map(d(_)): _*), keyCols, "left_anti")
      case None    => kept0
    }
    val merged = kept.unionByName(
      deleteKeys match {
        case Some(d) => updates.join(d.select(keyCols.map(d(_)): _*), keyCols, "left_anti")
        case None    => updates
      })
    overwrite(table, merged, TableIO.partitionColumns(head))
  }

  /** Small-file maintenance (Iceberg's `rewrite_data_files`): rewrite the
    * committed HEAD into `targetFiles` write tasks (files per partition
    * value, for a partitioned head) as a NEW snapshot committed
    * under the SAME fingerprint — data-identical, so pipeline resume
    * still matches, while readers stop paying per-file open/footer cost.
    * At 10^12 docs the accumulated output of incremental runs is the
    * small-files problem; compaction is a background maintenance job that
    * must never change query results — the spec + driver query pin
    * exactly that. Returns the new snapshot id. */
  def compact(table: String, targetFiles: Int): Long
}

object TableIO {
  /** Partition columns of a table as opened by `read`/`readAt`: those of
    * the file relation it scans, none for any other plan. A rewrite of the
    * head (`upsert`, `compact`) lays the new snapshot out by them, so a
    * partitioned table (IvfIndex's `cell`) keeps its partition pruning. */
  private[pipeline] def partitionColumns(table: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    table.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames.toSeq }
      .getOrElse(Nil)
  }
}

/** Parquet-directory realization with snapshot history: each `overwrite`
  * writes a fresh `v<N>` subdir under the table dir, and `commit` appends
  * `(N, fingerprint)` to the `_GRAFT_COMMITS` log. The head is the
  * highest-numbered version dir; an uncommitted head (crash before the
  * commit) is simply rewritten by the next run's overwrite, so
  * committed history is never mutated. Append-mode tables (`_metrics`)
  * stay flat parquet-append dirs — they are their own log.
  *
  * Schema sidecar: `overwrite` writes the frame's schema as JSON to
  * `_graft_schema.json` in the version dir right after the data, and
  * `append` writes it once at the root of the flat table. Every read
  * (`read`, `readAt`, and through them `compact`, `upsert`, `diff`) hands
  * that schema to the parquet reader instead of letting Spark infer it,
  * because parquet inference runs one Spark job per read to fetch a
  * footer. The underscore prefix keeps Spark's file index from listing
  * the sidecar as data. A directory without a sidecar (written before the
  * sidecar existed, or by a writer that died between data and sidecar)
  * keeps the inferred read. */
class ParquetTableIO(spark: SparkSession, root: String) extends TableIO {
  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.types.{DataType, StructType}
  private val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dir(table: String) = new Path(s"$root/$table")
  private def versionDir(table: String, v: Long) = new Path(s"$root/$table/v$v")
  private def commitLog(table: String) = new Path(s"$root/$table/_GRAFT_COMMITS")
  private def schemaFile(d: Path) = new Path(d, "_graft_schema.json")

  private def readUtf8(p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      in.readFully(bytes)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeUtf8(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parquet read of `d` under its sidecar schema; inferred without one. */
  private def load(d: Path): DataFrame = {
    val f = schemaFile(d)
    if (fs.exists(f))
      spark.read.schema(DataType.fromJson(readUtf8(f)).asInstanceOf[StructType]).parquet(d.toString)
    else spark.read.parquet(d.toString)
  }

  /** Highest version dir present (written, not necessarily committed). */
  private def headVersion(table: String): Option[Long] = {
    val d = dir(table)
    if (!fs.exists(d)) None
    else {
      val vs = fs.listStatus(d).map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) => n.drop(1).toLong }
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  private def readLog(table: String): Seq[(Long, String)] = {
    val log = commitLog(table)
    if (!fs.exists(log)) Nil
    else readUtf8(log).split("\n").toSeq.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      (line.substring(0, i).toLong, line.substring(i + 1))
    }
  }

  override def read(table: String): DataFrame =
    load(headVersion(table).fold(dir(table))(versionDir(table, _))) // no version: flat append table

  override def overwrite(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    // advance past the last committed snapshot; an uncommitted head from a
    // crashed run is reused (rewritten in place)
    val committed = readLog(table).map(_._1).toSet
    val next = headVersion(table) match {
      case Some(h) if committed(h) => h + 1
      case Some(h)                 => h
      case None                    => 1L
    }
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(versionDir(table, next).toString)
    writeUtf8(schemaFile(versionDir(table, next)), df.schema.json)
  }

  /** The rows (a `LocalRelation` plan) are written as one parquet file
    * from the driver, with no Spark job. */
  override def append(table: String, df: DataFrame): Unit = {
    org.apache.spark.sql.GraftBridge.appendLocalParquet(df, dir(table).toString)
    if (!fs.exists(schemaFile(dir(table)))) writeUtf8(schemaFile(dir(table)), df.schema.json)
  }

  override def exists(table: String): Boolean = fs.exists(dir(table))

  override def commit(table: String, fingerprint: String): Unit = {
    val head = headVersion(table).getOrElse(
      throw new IllegalStateException(s"commit($table): nothing written"))
    val entries = readLog(table).filterNot(_._1 == head) :+ (head -> fingerprint)
    writeUtf8(commitLog(table), entries.map { case (v, f) => s"$v\t$f" }.mkString("", "\n", "\n"))
  }

  override def committedFingerprint(table: String): Option[String] =
    headVersion(table).flatMap { h =>
      if (!fs.exists(new Path(versionDir(table, h), "_SUCCESS"))) None
      else readLog(table).collectFirst { case (v, f) if v == h => f }
    }

  override def snapshots(table: String): Seq[(Long, String)] = readLog(table)

  override def discardUncommittedHead(table: String): Boolean = {
    val committed = readLog(table).map(_._1).toSet
    headVersion(table) match {
      case Some(h) if !committed(h) =>
        // every version dir above the last committed id is orphan output of
        // the crashed run (overwrite reuses the head slot, so normally there
        // is exactly one); committed dirs are never touched
        val orphans = Iterator.iterate(h)(_ - 1)
          .takeWhile(v => v > 0 && !committed(v) && fs.exists(versionDir(table, v)))
          .toSeq
        orphans.foreach(v => fs.delete(versionDir(table, v), true))
        orphans.nonEmpty
      case _ => false
    }
  }

  override def readAt(table: String, snapshotId: Long): DataFrame = {
    require(readLog(table).exists(_._1 == snapshotId),
      s"readAt($table, $snapshotId): not a committed snapshot " +
        s"(committed: ${readLog(table).map(_._1).mkString(",")})")
    load(versionDir(table, snapshotId))
  }

  override def compact(table: String, targetFiles: Int): Long = {
    require(targetFiles >= 1, s"bad targetFiles $targetFiles")
    val fp = committedFingerprint(table).getOrElse(throw new IllegalStateException(
      s"compact($table): head is not a committed snapshot"))
    // one read -> one write: coalesce avoids a shuffle when shrinking the
    // file count (the normal compaction direction); repartition only when
    // the head has FEWER files than the target (splitting requires one)
    val head = read(table)
    val nFiles = head.inputFiles.length
    val rewritten =
      if (nFiles >= targetFiles) head.coalesce(targetFiles)
      else head.repartition(targetFiles)
    overwrite(table, rewritten, TableIO.partitionColumns(head))
    commit(table, fp)
    headVersion(table).get
  }
}

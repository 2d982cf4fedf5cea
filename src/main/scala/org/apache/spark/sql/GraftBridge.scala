package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics

/** Bridge to `private[sql]` Column <-> Expression conversions (the standard
  * pattern for Catalyst-level Spark extensions living outside the Spark
  * source tree). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `c` converted to a Catalyst expression now rather than at analysis,
    * so a function builder sees `lit(4)` as `Literal(4)`, as SQL text
    * hands it over. */
  def expression(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)

  /** The engine's one materialize primitive: eagerly compute `df`, store
    * its unsafe rows as local-checkpoint blocks, and rebuild a DataFrame
    * over them. Every iterative loop (connected components, host rank) and
    * every multi-consumer frame goes through here. The rebuilt plan carries
    * the exact row count and byte size of the stored rows (no column
    * stats), so Catalyst's broadcast threshold applies to real sizes.
    *
    * Why not plain `df.localCheckpoint`: on Spark 4 the resulting
    * `LogicalRDD` propagates the source plan's ESTIMATED `originStats`, so
    * in a loop the join estimates multiply per round until Catalyst spends
    * minutes multiplying million-digit BigInts (observed: iteration wall
    * time 0.8 s -> 5 s -> 43 s -> 300 s). Here each pass measures the rows
    * it stored, so a round's stats never inherit the previous estimate.
    *
    * Why not `createDataFrame(df.localCheckpoint.rdd, schema)`: that
    * rebuild converts every stored row InternalRow -> Row -> InternalRow on
    * each read (boxing every array element — measured as the dominant cost
    * for wide bucket rows); here rows are stored once and read directly.
    *
    * Blocks are freed by the ContextCleaner when the RDD is dropped; they
    * are not recomputable after executor loss. */
  def materialize(df: Dataset[Row]): Dataset[Row] = materializeCounting(df)._1

  /** [[materialize]] plus the counts its one pass already takes:
    * `(frame, rows, matched)`. `rows` is the checkpoint's own `count()`,
    * so a caller that sizes or gates on the frame (connected components'
    * edge count, host rank's node count) schedules no second job over the
    * stored blocks. `matched` counts rows satisfying `pred`, and the byte
    * size sums row sizes, through long accumulators folded into the same
    * job (e.g. BucketedPairs' monster-bucket gate). Task retries can only
    * OVER-count an accumulator (each successful attempt adds), never
    * under-count — safe for existence gates, where a false positive merely
    * runs a branch that then finds no rows, and for the byte size, where it
    * can only make a broadcast less likely; `rows` is exact. */
  def materializeCounting(df: Dataset[Row],
                          pred: catalyst.InternalRow => Boolean = _ => false)
      : (Dataset[Row], Long, Long) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val matched = session.sparkContext.longAccumulator("graft.materialize.matched")
    val bytes = session.sparkContext.longAccumulator("graft.materialize.bytes")
    val attrs = catalyst.types.DataTypeUtils.toAttributes(df.schema)
    val rdd = df.queryExecution.toRdd.map { r =>
      if (pred(r)) matched.add(1L)
      // physical rows are reused UnsafeRow buffers (Spark's own shuffle
      // serializer makes the same cast)
      val c = r.copy()
      bytes.add(c.asInstanceOf[UnsafeRow].getSizeInBytes)
      c
    }
    rdd.localCheckpoint()
    val rows = rdd.count()
    val stats = Statistics(sizeInBytes = BigInt(bytes.value), rowCount = Some(BigInt(rows)))
    val plan = execution.LogicalRDD(attrs, rdd)(session, Some(stats))
    (classic.Dataset.ofRows(session, plan), rows, matched.value)
  }

  /** The physical-plan rows of `df` (UnsafeRow buffers ARE reused — copy
    * before buffering) plus a rebuild hook, for pass-through taps that
    * observe rows on their way to a sink without a Row conversion. */
  def internalRows(df: Dataset[Row]): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** Rebuild a DataFrame over an InternalRow RDD (inverse of
    * [[internalRows]]; schema must match the rows). */
  def fromInternalRows(session: SparkSession,
                       rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                       schema: types.StructType): Dataset[Row] =
    session.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Append `df`, whose optimized plan must be a `LocalRelation` (rows
    * that already sit on the driver, e.g. `createDataFrame(rows.asJava,
    * schema)`), to the parquet directory `dir` as one file written on the
    * driver; no Spark job runs. The rows go through the writer that
    * `df.write` runs in each task (`ParquetUtils.prepareWrite` ->
    * `OutputWriterFactory`), so the file reads back as a `df.write` file of
    * the same rows. It is written under an `_`-prefixed name, which file
    * listings skip, and renamed into place once closed: a reader never
    * sees a partial file. */
  def appendLocalParquet(df: Dataset[Row], dir: String): Unit = {
    val local = df.queryExecution.optimizedPlan match {
      case l: catalyst.plans.logical.LocalRelation => l
      case other => throw new IllegalArgumentException(
        "appendLocalParquet takes driver-side rows (a LocalRelation plan, " +
          s"e.g. createDataFrame(rows.asJava, schema)), not a ${other.nodeName} plan")
    }
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val schema = df.schema
    internal.SQLConf.withExistingConf(conf) {
      val factory = ParquetUtils.prepareWrite(conf, job, schema,
        new ParquetOptions(Map.empty[String, String], conf))
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
      val context = new TaskAttemptContextImpl(job.getConfiguration, attempt)
      val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
        factory.getFileExtension(context)
      val tmp = new Path(dir, "_" + name)
      val writer = factory.newInstance(tmp.toString, schema, context)
      try local.data.foreach(writer.write) finally writer.close()
      val fs = tmp.getFileSystem(job.getConfiguration)
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"could not rename $tmp into $dir")
    }
  }

  /** Deletes `dir` and everything in it when the JVM exits, in the
    * shutdown hook that deletes Spark's own temp dirs (it runs after the
    * SparkContext's). */
  def deleteOnExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** Block until the async listener bus has delivered all queued events —
    * required before reading metrics accumulated by a SparkListener (the
    * bus lags behind job completion, so task-end events from the final
    * jobs may still be in flight). `private[spark]` in Spark itself. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Materialize a `functions.udf(...)` object into a Catalyst ScalaUDF over
    * explicit children — needed by FunctionRegistry/extension builders,
    * where `udf.apply(Column)` would produce an unresolvable lazy
    * ColumnNode instead of an evaluable expression. */
  def scalaUDF(f: expressions.UserDefinedFunction,
               children: Seq[Expression]): Expression =
    classic.UserDefinedFunctionUtils.toScalaUDF(
      f.asInstanceOf[expressions.SparkUserDefinedFunction], children)
}

/** `AbstractDataType` is `private[sql]`, so expressions outside the Spark
  * tree cannot declare `inputTypes` directly; this bridge trait gives them
  * a bigint-input contract with Spark's implicit input casting (analysis
  * fails or casts — never a runtime ClassCastException in `update`). */
trait GraftExpectsLongInput
    extends org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  self: Expression =>
  override def inputTypes: Seq[org.apache.spark.sql.types.AbstractDataType] =
    Seq(org.apache.spark.sql.types.LongType)
}

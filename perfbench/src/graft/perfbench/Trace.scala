package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.TableIO

/** One timed call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, layer: String, start: Long, end: Long,
                      parent: Long, runId: String) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans nest per thread; a span opened on a
  * thread with no open span (a pipeline lane future, the lineage trailer)
  * hangs under the current root span. Disabled tracers run the body and
  * record nothing. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var root = 0L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val open = stack.get
      val parent = open.headOption.getOrElse(root)
      stack.set(id :: open)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, layer, t0, System.nanoTime(), parent, runId))
        stack.set(open)
      }
    }

  /** A span that other threads' top-level spans attach to. */
  def rootSpan[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else span(layer, name) {
      val prev = root
      root = stack.get.head
      try body finally root = prev
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run_id":${Json.str(s.runId)}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Spans {

  /** Length of the union of `intervals` clipped to [lo, hi). */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Self time per span: its duration minus the time covered by at least
    * one direct child. Concurrent children (the pipeline's four lanes)
    * are counted once, so self time is never negative. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.durNs - coveredNs(kids, s.start, s.end))
    }.toMap
  }

  /** Self seconds summed per layer. */
  def selfSecondsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum / 1e9 }
  }
}

/** Spark runtime counters for everything the session runs. */
final class RuntimeListener extends SparkListener {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val gcMs = new LongAdder
  val cpuNs = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.add(m.jvmGCTime)
      cpuNs.add(m.executorCpuTime)
    }
  }

  def snapshot(spark: SparkSession): RuntimeSnapshot = {
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
    RuntimeSnapshot(jobs.sum, tasks.sum, shuffleWriteBytes.sum, spillBytes.sum,
      gcMs.sum / 1e3, cpuNs.sum / 1e9)
  }
}

final case class RuntimeSnapshot(jobs: Long, tasks: Long, shuffleWriteBytes: Long,
                                 spillBytes: Long, gcS: Double, cpuS: Double) {
  def -(o: RuntimeSnapshot): RuntimeSnapshot = RuntimeSnapshot(jobs - o.jobs, tasks - o.tasks,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes, gcS - o.gcS, cpuS - o.cpuS)
  def +(o: RuntimeSnapshot): RuntimeSnapshot = RuntimeSnapshot(jobs + o.jobs, tasks + o.tasks,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, gcS + o.gcS, cpuS + o.cpuS)
}

object RuntimeSnapshot {
  val Zero: RuntimeSnapshot = RuntimeSnapshot(0, 0, 0, 0, 0.0, 0.0)
}

/** Per-run pipeline storage counters filled by [[TimedTableIO]]. */
final class TableIOCounters {
  private val stageNs = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()
  val appendNs = new LongAdder
  val overwrites = new LongAdder
  val commits = new LongAdder
  val reads = new LongAdder

  def addStage(table: String, ns: Long): Unit =
    stageNs.computeIfAbsent(table, _ => new LongAdder).add(ns)
  def stageSeconds(table: String): Double =
    Option(stageNs.get(table)).map(_.sum / 1e9).getOrElse(0.0)
}

/** A [[TableIO]] that times each call to the wrapped store. An
  * `overwrite` writes a stage snapshot, which runs the stage's job, so its
  * time is the stage's compute-and-write time. */
final class TimedTableIO(inner: TableIO, tracer: Tracer, c: TableIOCounters) extends TableIO {
  private def timed[T](name: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = tracer.span("pipeline", name)(body)
    (r, System.nanoTime() - t0)
  }

  def read(table: String): DataFrame = { c.reads.increment(); timed(s"read.$table")(inner.read(table))._1 }

  def overwrite(table: String, df: DataFrame, partitionBy: Seq[String]): Unit = {
    c.overwrites.increment()
    c.addStage(table, timed(s"stage.$table")(inner.overwrite(table, df, partitionBy))._2)
  }

  def append(table: String, df: DataFrame): Unit =
    c.appendNs.add(timed(s"append.$table")(inner.append(table, df))._2)

  def exists(table: String): Boolean = inner.exists(table)

  def commit(table: String, fingerprint: String): Unit = {
    c.commits.increment()
    timed(s"commit.$table")(inner.commit(table, fingerprint))
  }

  def committedFingerprint(table: String): Option[String] = inner.committedFingerprint(table)
  def snapshots(table: String): Seq[(Long, String)] = inner.snapshots(table)
  def readAt(table: String, snapshotId: Long): DataFrame = inner.readAt(table, snapshotId)
  def discardUncommittedHead(table: String): Boolean = inner.discardUncommittedHead(table)
  def compact(table: String, targetFiles: Int): Long = inner.compact(table, targetFiles)
}

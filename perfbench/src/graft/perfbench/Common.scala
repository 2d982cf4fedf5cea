package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)
}

object Stats {
  /** Python's `statistics.median`. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Host {
  /** Register-only host-capacity probe in the shape of `graft.Bench`'s
    * `calibrate`: `threads` SplitMix64 mix loops, best of two after a GC.
    * Its wall time moves with the CPU the host grants this process, so it
    * shows whether a run landed in a slow window. A quarter of Bench's
    * loop length keeps it near half a second. */
  def calibrate(threads: Int = Session.Cores, perThread: Long = 100000000L): Double = {
    System.gc()
    def once(): Double = {
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          var acc = t.toLong
          var i = 0L
          while (i < perThread) { acc = graft.core.SplitMix64.mix(acc); i += 1 }
          if (acc == 42L) System.err.print("")
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Used heap after full collections, in MB. Repeated passes give the
    * Spark ContextCleaner time to drop blocks whose frames became
    * unreachable; the lowest reading is the retained set. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }
}

object Session {
  val Cores = 4

  def start(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", graft.spark.Scratch.fairPoolsXml)
      .config("spark.file.transferTo", "false")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.Scratch.warmBlockManager(s)
    s
  }
}

object Files2 {
  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  def fresh(p: Path): Path = {
    deleteTree(p)
    Files.createDirectories(p)
  }
}

object Frames {
  private def hashable(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType => false
    case ArrayType(e, _) => hashable(e)
    case StructType(fs) => fs.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** Row count and an order-insensitive hash of `df`. Floating-point
    * columns are left out of the hash: their low bits depend on the order
    * of partial sums, which is not part of a query's contract. */
  def rowsAndHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.filter(f => hashable(f.dataType)).map(f => col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0)).cast("string")).first()
    (r.getLong(0), BigInt(r.getString(1)).toLong)
  }
}

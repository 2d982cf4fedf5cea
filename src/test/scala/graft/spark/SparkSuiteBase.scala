package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for integration specs. One session per JVM
  * (tests fork once), local[4] with small shuffle partitioning so suites
  * exercise real multi-partition partial/final aggregation without paying
  * 200-partition overhead per tiny stage. */
trait SparkSuiteBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkSuiteBase.session

  /** Run `body` with the session confs `pairs` set, restoring them after. */
  protected def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A new `graft-<tag>` work dir under the JVM temp dir, deleted with
    * everything in it after the suite's last test. */
  protected def tmpDir(tag: String): String = synchronized {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
    tmpDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tmpDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      tmpDirs.clear()
    }
}

object SparkSuiteBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // shuffle scratch on tmpfs: shuffle index commits serialize on a
      // JVM-global lock around small-file IO; the sandbox ext4 makes that
      // lock hot enough to flatline multi-core scaling (thread dumps showed
      // executors blocked in IndexShuffleBlockResolver). A real cluster
      // would use local NVMe.
      .config("spark.local.dir", graft.spark.Scratch.localDir)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", graft.spark.Scratch.fairPoolsXml)
      .config("spark.file.transferTo", "false")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.Scratch.warmBlockManager(s)
    s
  }
}

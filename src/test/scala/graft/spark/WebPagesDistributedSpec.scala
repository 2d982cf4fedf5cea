package graft.spark

import graft.core.WebPages
import org.scalatest.funsuite.AnyFunSuite

/** The distributed corpus generator feeds the pipeline benchmark: its
  * rows are pinned so a change to the generator shows up as a failure
  * here, not as a silent change of the benchmark's input. */
class WebPagesDistributedSpec extends AnyFunSuite with SparkSuiteBase {

  test("generateDistributed corpus is pinned (2,000 pages, seed 1, 4 chunks)") {
    val rows = WebPages.generateDistributed(spark, 2000, 1L, 4).collect()
    val lines = rows.map { r =>
      val html = java.security.MessageDigest.getInstance("SHA-256")
        .digest(r.getAs[Array[Byte]]("html")).map("%02x".format(_)).mkString
      Seq(r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("warc_ts").getTime,
        html, r.getAs[String]("text"), r.getAs[String]("lang")).mkString("\t")
    }.sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert((rows.length, digest) == ((2000, "b7748744f34e5e66")))
  }
}

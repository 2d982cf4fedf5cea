package graft.spark

import graft.core._
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface no catalog query reaches: each function-table entry
  * below is called through SQL text on a small seeded frame, its answer is
  * compared with the `graft.core` method it wraps over the SAME serialized
  * sketch, and a NULL argument gives a NULL answer. The REQ calls are the
  * reference's own query surface (rank, CDF and PMF of its `RQS` spec). */
class SqlSurfaceSpec extends AnyFunSuite with SparkSuiteBase {

  private lazy val session: SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  /** One row of sketches over a seeded stream of 5,000 `(id, x, tok)` rows,
    * built by the SQL aggregates and kept as the local view `sk`, so every
    * finisher call below reads the same bytes. Integer-valued `x` has
    * ties, so `<` and `<=` ranks differ at a retained item. */
  private lazy val sketches: Row = {
    val s = session
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map { i =>
      (i.toLong, rnd.nextInt(1000).toDouble, s"t${(rnd.nextGaussian().abs * 6).toInt}")
    }
    val row = s.sparkContext.parallelize(rows, 4).toDF("id", "x", "tok")
      .selectExpr("req_sketch(x) AS req", "kll_sketch(x) AS kll",
        "theta_sketch(id, 1024) AS th", "freq_sketch(tok, 8) AS fq",
        "cms_sketch(tok, 5, 64) AS cms", "bloom_agg(id, 8000) AS bl",
        "cbloom_agg(id, 8000) AS cb")
      .head()
    s.createDataFrame(java.util.List.of(row), row.schema).createOrReplaceTempView("sk")
    row
  }

  private def bytes(name: String): Array[Byte] = sketches.getAs[Array[Byte]](name)

  /** The value of one SQL expression over the view `sk`. */
  private def eval(sql: String): Any = {
    sketches
    session.sql(s"SELECT $sql FROM sk").head().get(0) match {
      case xs: scala.collection.Seq[_] => xs.toSeq
      case v => v
    }
  }

  private def check(sql: String, expected: Any): Unit = {
    val want = expected match {
      case a: Array[_] => a.toSeq
      case v => v
    }
    val got = eval(sql)
    assert(got == want, s"$sql: got $got, want $want")
  }

  private def checkNull(sqls: String*): Unit =
    sqls.foreach(sql => assert(eval(sql) == null, s"$sql is not NULL"))

  private val NullBin = "CAST(NULL AS BINARY)"
  private val NullDouble = "CAST(NULL AS DOUBLE)"
  private val NullArray = "CAST(NULL AS ARRAY<DOUBLE>)"

  test("REQ query surface: quantiles, rank, rank_lte, cdf, pmf and retained match ReqSketch") {
    val req = ReqSketch.deserialize(bytes("req"))
    val v = req.quantile(0.5)
    assert(req.rank(v) < req.rank(v, inclusive = true), "the probe must tell < from <=")
    check("req_quantiles(req, array(0.1d, 0.5d, 0.9d))", req.quantiles(Seq(0.1, 0.5, 0.9)))
    check(s"req_rank(req, ${v}d)", req.rank(v))
    check(s"req_rank_lte(req, ${v}d)", req.rank(v, inclusive = true))
    val splits = Seq(100.0, 500.0, 900.0)
    check("req_cdf(req, array(100d, 500d, 900d))", req.cdf(splits).get)
    check("req_pmf(req, array(100d, 500d, 900d))", req.pmf(splits).get)
    check("req_retained(req)", req.retainedItemCount)
    assert(req.retainedItemCount < req.count, "the sketch must have compacted")
    checkNull(
      s"req_quantiles($NullBin, array(0.5d))", s"req_quantiles(req, $NullArray)",
      s"req_rank($NullBin, 1d)", s"req_rank(req, $NullDouble)",
      s"req_rank_lte($NullBin, 1d)", s"req_rank_lte(req, $NullDouble)",
      s"req_cdf($NullBin, array(1d))", s"req_cdf(req, $NullArray)",
      s"req_pmf($NullBin, array(1d))", s"req_pmf(req, $NullArray)",
      s"req_retained($NullBin)")
  }

  test("KLL quantiles, rank and count match KllSketch") {
    val kll = KllSketch.deserialize(bytes("kll"))
    check("kll_quantiles(kll, array(0.1d, 0.5d, 0.9d))", kll.quantiles(Seq(0.1, 0.5, 0.9)))
    check("kll_rank(kll, 500d)", kll.rank(500.0))
    check("kll_count(kll)", kll.count)
    assert(kll.count == 5000L)
    checkNull(s"kll_quantiles($NullBin, array(0.5d))", s"kll_quantiles(kll, $NullArray)",
      s"kll_rank($NullBin, 1d)", s"kll_rank(kll, $NullDouble)", s"kll_count($NullBin)")
  }

  test("theta bounds, freq_estimate and cms_error_scale match their sketches") {
    val th = ThetaSketch.deserialize(bytes("th"))
    check("theta_lb(th, 2)", th.lowerBound(2))
    check("theta_ub(th, 2)", th.upperBound(2))
    assert(th.lowerBound(2) < th.upperBound(2), "the sketch must be in estimation mode")
    val fq = FreqSketch.deserialize(bytes("fq"))
    check("freq_estimate(fq, 't1')", fq.estimate("t1"))
    check("freq_estimate(fq, 'absent')", fq.estimate("absent"))
    check("cms_error_scale(cms)", CmsSketch.deserialize(bytes("cms")).errorScale)
    checkNull(s"theta_lb($NullBin, 2)", s"theta_ub($NullBin, 2)",
      s"theta_lb(th, CAST(NULL AS INT))",
      s"freq_estimate($NullBin, 't1')", "freq_estimate(fq, CAST(NULL AS STRING))",
      s"cms_error_scale($NullBin)")
  }

  test("Bloom and counting-Bloom finishers match their filters") {
    val bl = BloomFilter.deserialize(bytes("bl"))
    check("bloom_contains(bl, 17L)", bl.mightContain(17L))
    assert(bl.mightContain(17L))
    check("bloom_contains(bl, -5L)", bl.mightContain(-5L))
    check("bloom_fpp(bl)", bl.expectedFpp)
    check("bloom_items(bl)", bl.itemsAdded)
    val cb = CountingBloomFilter.deserialize(bytes("cb"))
    check("cbloom_items(cb)", cb.itemsAdded)
    check("cbloom_max_cell(cb)", cb.maxCell)
    assert(bl.itemsAdded == 5000L && cb.itemsAdded == 5000L)
    checkNull(s"bloom_contains($NullBin, 1L)", "bloom_contains(bl, CAST(NULL AS BIGINT))",
      s"bloom_fpp($NullBin)", s"bloom_items($NullBin)",
      s"cbloom_items($NullBin)", s"cbloom_max_cell($NullBin)")
  }

  test("shingles5, lcs_len and quality_score match TextOps") {
    val s = session
    import s.implicits._
    val texts = WebPages.generate(6, 5L).map(_.text)
    texts.zip(texts.tail :+ texts.head).toDF("a", "b").createOrReplaceTempView("texts")
    val rows = session.sql(
        "SELECT a, b, shingles5(a), lcs_len(a, b), quality_score(a) FROM texts")
      .collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getSeq[Long](2) == TextOps.shingleHashes(a).toSeq)
      assert(r.getInt(3) == TextOps.longestCommonSubstring(a, b))
      assert(r.getDouble(4) == TextOps.qualityScore(a))
    }
    checkNull("shingles5(CAST(NULL AS STRING))", "lcs_len(CAST(NULL AS STRING), 'abc')",
      "lcs_len('abc', CAST(NULL AS STRING))", "quality_score(CAST(NULL AS STRING))")
  }
}

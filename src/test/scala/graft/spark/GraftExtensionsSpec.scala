package graft.spark

import graft.core.{TextOps, WebPages}
import graft.operators.{ExactDedup, MinHashLSH, SimHashDedup, SubstringDedup}
import graft.pipeline.NearDupPipeline
import graft.streaming.StreamingOps
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** An extensions-only deployment (`--conf spark.sql.extensions=
  * graft.spark.GraftExtensions`, no programmatic register()) must expose
  * the COMPLETE SQL surface: aggregates AND the scalar finishers — the r1
  * gap was a session that could build sketches but not query them. */
class GraftExtensionsSpec extends AnyFunSuite with SparkSuiteBase {

  private def extensionsOnlySession(): SparkSession = {
    // a genuinely new session (shared SparkContext) built through the
    // extensions hook — getOrCreate would hand back the suite session. The
    // suite session is built first, so the extensions stay on this one.
    val saved = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SparkSession.setActiveSession(saved)
    SparkSession.setDefaultSession(saved)
    s
  }

  test("extensions-only session runs the flagship sketch query end to end") {
    // NB: never ext.stop() — that stops the shared SparkContext; the extra
    // sessionState just gets dropped with the suite JVM
    val ext = extensionsOnlySession()
    val df = ext.sql(
        """SELECT lang,
          |       req_count(sk) AS docs,
          |       req_quantile(sk, 0.5d) AS p50,
          |       req_quantile_lte(sk, 0.5d) AS p50_lte,
          |       kll_quantile(kk, 0.5d) AS kll_p50,
          |       cast(theta_estimate(th) AS bigint) AS distinct_sources,
          |       cast(round(hll_estimate(hh)) AS bigint) AS hll_sources
          |FROM (
          |  SELECT lang, req_sketch(n_chars) sk, kll_sketch(n_chars) kk,
          |         theta_sketch(source) th, hll_sketch(source) hh
          |  FROM parquet.`/root/testdata/sf0.001/documents.parquet`
          |  GROUP BY lang)""".stripMargin).collect()
    assert(df.length > 0)
    df.foreach { r =>
      assert(r.getLong(1) > 0)                       // req_count
      assert(!r.getDouble(2).isNaN)                  // req_quantile
      assert(r.getLong(5) > 0 && r.getLong(6) > 0)   // theta + hll finishers
    }
    // sketch-union aggregates + text kernels are injected too
    val u = ext.sql(
      """SELECT theta_estimate(theta_union(th)) e, lang_id('the quick brown fox and the dog') l
        |FROM (SELECT theta_sketch(source) th
        |      FROM parquet.`/root/testdata/sf0.001/documents.parquet`
        |      GROUP BY lang)""".stripMargin).collect().head
    assert(u.getDouble(0) > 0 && u.getString(1) == "en")
  }

  test("operators leave the caller's session functions alone") {
    // a fresh session that owns a `lang_id` of its own and no graft names:
    // every lane, a streaming sketch face and the whole pipeline run on it
    val s = spark.newSession()
    import s.implicits._
    s.udf.register("lang_id", (_: String) => "user")
    def langId(): String = s.sql("SELECT lang_id('the quick brown fox and the dog')").head().getString(0)
    assert(langId() == "user")

    val pages = WebPages.generate(120, 21L)
    val docs = pages.zipWithIndex.map { case (p, i) => (i.toLong, p.text) }.toDF("doc_id", "text")
    assert(MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.9).count() >= 0)
    assert(SimHashDedup.pairs(docs, "doc_id", "text").count() >= 0)
    assert(SubstringDedup.pairs(docs, "doc_id", "text").count() >= 0)
    assert(ExactDedup.pairs(docs, "doc_id", "text").count() >= 0)
    val events = pages.take(20).map(p => (p.warc_ts, "g", p.text)).toDF("ts", "grp", "text")
    assert(StreamingOps.windowedCmsSketch(events, "ts", "text", "grp",
      "10 minutes", "5 minutes").count() > 0)
    val work = tmpDir("session")
    val res = NearDupPipeline.run(s, s.createDataFrame(s.sparkContext.parallelize(pages, 4)),
      NearDupPipeline.Config(workDir = work))
    assert(res.clusters.count() > 0)

    assert(langId() == "user", "an operator replaced the caller's lang_id")
    assert(!s.catalog.functionExists("minhash128"), "an operator installed graft functions")
  }

  test("call builds aggregates, native expressions and UDFs straight from the table") {
    val s = spark.newSession()
    import s.implicits._
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // an RDD source, so the optimizer cannot fold the calls into constants
    val df = s.sparkContext.parallelize(Seq((1L, text), (2L, text + " lambda"))).toDF("id", "text")
    def expression(c: org.apache.spark.sql.Column) = GraftBridge.expression(c)

    val hll = GraftFunctions.call("hll_sketch", col("id"))
    assert(expression(hll).isInstanceOf[AggregateExpression])
    val est = df.agg(hll.as("h")).select(GraftFunctions.call("hll_estimate", col("h"))).head()
    assert(math.round(est.getDouble(0)) == 2L)

    val bands = GraftFunctions.call("minhash_bands", col("text"))
    assert(expression(bands).isInstanceOf[MinHashBands])
    assert(df.select(bands).head().getSeq[Long](0) ==
      TextOps.bandHashes(TextOps.minHash(text)).toSeq)

    val sim = GraftFunctions.call("simhash64", col("text"))
    assert(expression(sim).isInstanceOf[ScalaUDF])
    assert(df.select(sim).head().getLong(0) == TextOps.simHash64(text))

    // named UDFs: plans print the function name, exactly as the SQL path does
    val probes = df.select(GraftFunctions.call("simhash_probes", sim, lit(3)).as("p"))
    val plan = probes.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(plan.contains("simhash_probes(") && !plan.contains("UDF("), plan)
    assert(!s.catalog.functionExists("simhash_probes"), "call must not install anything")
    GraftFunctions.register(s)
    def shape(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "")
    assert(shape(probes) == shape(df.select(expr("simhash_probes(simhash64(text), 3)").as("p"))))

    intercept[IllegalArgumentException](GraftFunctions.call("no_such_function", col("id")))
  }

  /** Spark's "replaced a previously registered function" WARNs logged
    * while `body` runs, seen by an appender on the function registry's
    * logger (raised to WARN for the duration: the suite session logs at
    * ERROR). */
  private def replacementWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-replacement-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger(classOf[org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry].getName)
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
      .filter(_.contains("replaced a previously registered function"))
  }

  test("the function table installs once per session; a caller's own graft name is replaced") {
    val s = spark.newSession()
    // building a catalog query reads only its input's schema
    val dir = tmpDir("install")
    s.createDataFrame(Seq((1L, "en", "alpha beta"))).toDF("doc_id", "lang", "text")
      .write.parquet(s"$dir/documents.parquet")
    // a new session holds only Spark's built-ins: the first install
    // replaces just the built-ins whose names the table shares
    val shared = GraftFunctions.functions.map(_._1).filter(name =>
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
    val first = replacementWarnings(graft.SparkEntry.queries("q_freq_tokens")(s, dir))
    assert(first.size == shared.size && shared.forall(n => first.exists(_.contains(s" $n "))),
      s"first install: $first, shared built-in names: $shared")
    val quiet = replacementWarnings {
      graft.SparkEntry.queries("q_cms_tokens")(s, dir)
      GraftFunctions.register(s)
    }
    assert(quiet.isEmpty, s"${quiet.size} replacement WARNs, first: ${quiet.headOption}")
    assert(graft.SparkEntry.queries eq graft.SparkEntry.queries, "queries is rebuilt per access")

    s.udf.register("simhash64", (_: String) => 0L)
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert(s.sql(s"SELECT simhash64('$text')").head().getLong(0) == 0L)
    val replaced = replacementWarnings(GraftFunctions.register(s))
    assert(replaced.size == 1 && replaced.head.contains("simhash64"), replaced)
    assert(s.sql(s"SELECT simhash64('$text')").head().getLong(0) == TextOps.simHash64(text))
  }
}

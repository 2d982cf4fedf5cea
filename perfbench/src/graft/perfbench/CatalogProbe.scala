package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.WebPages

/** The query-registry layer: the ROADMAP's target queries from
  * `SparkEntry.queries`, each executed once, timed and counted, over a
  * `documents` table cut from a generated pages corpus and a generated
  * `embeddings` table. The inputs use a fixed seed, so each query's row
  * count and order-insensitive hash are checked against
  * `perfbench/expected/catalog.json` (re-recorded with `run.py --record`).
  * Per-query state is reset before each execution: the pages-pipeline
  * workDirs and the Spark cache. */
final class CatalogProbe(ctx: RunContext, dir: Path, expected: Path, record: Boolean) {
  import CatalogProbe._
  private val spark = ctx.spark
  private val size = if (ctx.smoke) "smoke" else "full"
  private val docs = if (ctx.smoke) 200 else 500

  private def writeInputs(): Unit = {
    Files2.fresh(dir)
    WebPages.generateDistributed(spark, docs, InputSeed, 4)
      .select(col("url"), col("text"), col("lang"))
      .orderBy("url").coalesce(1)
      .select((monotonically_increasing_id()).as("doc_id"), col("text"), col("lang"),
        concat(lit("src"), (monotonically_increasing_id() % 3).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.parquet(dir.resolve("documents.parquet").toString)
    val rnd = new scala.util.Random(InputSeed)
    val dim = 64
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = (0 until docs).map { i =>
      val label = rnd.nextInt(centers.length)
      val v = centers(label).map(_ + 0.6 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding",
      ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
  }

  private def reset(q: String): Unit = {
    if (q.startsWith("q_pages_")) SparkEntry.resetEntryPipelineWork()
    spark.catalog.clearCache()
  }

  /** Writes the inputs under `dir`, each target's answer as parquet under
    * `dir/answers/<query>` and the targets' oracle SQL as
    * `dir/oracle_sql.json`, for the DuckDB cross-check in `run.py`. */
  def dump(): Unit = {
    writeInputs()
    Targets.foreach { q =>
      reset(q)
      SparkEntry.queries(q)(spark, dir.toString).coalesce(1).write
        .parquet(dir.resolve("answers").resolve(q).toString)
    }
    val oracles = Targets.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    Files.write(dir.resolve("oracle_sql.json"), oracles.mkString("{", ",", "}").getBytes("UTF-8"))
  }

  /** Metrics, plus the queries whose answers differ from the expected file. */
  def run(): (Map[String, Double], Seq[String]) = {
    writeInputs()
    val registry = SparkEntry.queries
    val observed = Targets.map { q =>
      reset(q)
      val before = ctx.runtime.snapshot(spark)
      val (answer, s) = Stats.seconds(ctx.tracer.span("catalog", q)(
        Frames.rowsAndHash(registry(q)(spark, dir.toString))))
      val jobs = (ctx.runtime.snapshot(spark) - before).jobs
      (q, s, jobs, answer)
    }
    val answers = observed.map { case (q, _, _, a) => q -> a }.toMap
    val mismatches =
      if (record) { Expected.write(expected, size, answers); Nil }
      else {
        val want = Expected.read(expected, size)
        Targets.filter(q => !want.get(q).contains(answers(q)))
          .map(q => s"$q answered ${answers(q)}, expected ${want.get(q)}")
      }
    val metrics = observed.flatMap { case (q, s, jobs, _) =>
      Seq(s"catalog.$q.s" -> s, s"catalog.$q.jobs" -> jobs.toDouble)
    }.toMap
    (metrics, mismatches)
  }
}

object CatalogProbe {
  val Targets: Seq[String] = Seq("q_containment", "q_ngram_jaccard", "q_ngram_jaccard_df",
    "q_incremental_clusters", "q_index_retire", "q_cluster_stability", "q_semantic_dedup",
    "q_simhash_incremental", "q_training_prep", "q_weighted_minhash", "q_pages_pipeline",
    "q_similar_topk")
  private val InputSeed = 42L

  /** `{"full": {"<query>": [rows, hash], ...}, "smoke": {...}}`, one query per line. */
  private object Expected {
    private val Entry = """"(q_[a-z_0-9]+)":\s*\[(-?\d+),\s*(-?\d+)\]""".r
    private val Section = """"(full|smoke)":\s*\{([^}]*)\}""".r

    private def sections(p: Path): Map[String, Map[String, (Long, Long)]] =
      if (!Files.exists(p)) Map.empty
      else Section.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map { m =>
        m.group(1) -> Entry.findAllMatchIn(m.group(2))
          .map(e => e.group(1) -> ((e.group(2).toLong, e.group(3).toLong))).toMap
      }.toMap

    def read(p: Path, size: String): Map[String, (Long, Long)] = sections(p).getOrElse(size, Map.empty)

    def write(p: Path, size: String, answers: Map[String, (Long, Long)]): Unit = {
      val all = sections(p) + (size -> answers)
      val body = Seq("full", "smoke").filter(all.contains).map { s =>
        all(s).toSeq.sortBy(_._1).map { case (q, (r, h)) => s"""    "$q": [$r, $h]""" }
          .mkString(s"""  "$s": {\n""", ",\n", "\n  }")
      }.mkString("{\n", ",\n", "\n}\n")
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
    }
  }
}

package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-mechanics evidence the engine's plans rely on at 100 TB, pinned
  * as executable facts rather than prose:
  *
  *  1. AQE SKEW-JOIN: a sort-merge join with one hot key is re-planned at
  *     runtime into split skewed partitions (`skew=true` in the final
  *     adaptive plan) with unchanged results — the mechanism the
  *     candidate-pair lanes lean on when a template family overwhelms a
  *     band hash despite salting.
  *  2. BUCKETED JOINS: two tables bucketed by the join key join with NO
  *     shuffle exchange on either side — the production layout for the
  *     corpus↔features and edges↔ranks joins that repeat every
  *     incremental run (pay the partitioning once at write time).
  */
class SkewAndBucketingSpec extends AnyFunSuite with SparkSuiteBase {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join partition at runtime; results unchanged") {
    // one monster key (80% of the fact side) + a long tail; the pad is
    // hash noise so shuffle compression cannot shrink the hot partition
    // back under the (test-lowered) skew threshold
    def noise(i: Int): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      (0 until 4).map(r => d.digest(s"$i-$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).mkString
    }
    val fact = (0 until 40000).map { i =>
      val k = if (i % 5 != 0) 7L else (i % 1000).toLong
      (k, noise(i))
    }.toDF("k", "pad")
    val dim = (0 until 1000).map(i => (i.toLong, s"d$i")).toDF("k", "name")

    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "200k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = fact.join(dim, "k")
      // collect() runs THIS dataset's queryExecution (count() would build
      // a separate aggregate plan and leave this one unexecuted/non-final)
      val n = joined.collect().length
      assert(n == 40000) // every fact key exists in dim exactly once
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AdaptiveSparkPlan"), "expected an adaptive plan")
      assert(finalPlan.contains("skew=true"),
        s"expected AQE to mark the skewed join (plan:\n$finalPlan)")
    }
  }

  test("stored band index bucketed by (band, bh): probe never reshuffles the index side") {
    // The incremental lanes' 100-TB contract in plan form: a 10^12-row
    // stored band index is written ONCE bucketed on its probe keys; every
    // daily increment then probes it with zero index-side exchanges — the
    // semi-join, the salted capped collection, and the final candidate
    // join all consume the scan's (band, bh) partitioning (grouping keys
    // are supersets of the bucket keys), so only batch-sized data ever
    // moves. Asserted by executing the SAME probe against the bucketed
    // table and the in-plan unbucketed index: identical candidates,
    // strictly fewer hash exchanges, bucketed scan visible in the plan.
    val wh = tmpDir("idx-bucket")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val corpus = (0 until 2000).map(i =>
        (i.toLong, s"corpus body number ${i / 3} copied words " + ("tok " * (3 + i % 7)).trim))
        .toDF("doc_id", "text")
      val idx = graft.operators.MinHashLSH.bandIndex(corpus, "doc_id", "text")
      idx.write.mode("overwrite").option("path", s"$wh/band_idx_b")
        .bucketBy(8, "band", "bh").saveAsTable("graft_band_idx_b")
      val batch = (0 until 120).map(i =>
        (100000L + i, s"corpus body number ${(i * 5) / 3} copied words " + ("tok " * (3 + (i * 5) % 7)).trim))
        .toDF("doc_id", "text")
      try {
        val stored = spark.table("graft_band_idx_b")
        val onPlain = graft.operators.MinHashLSH.incrementalCandidates(
          idx, batch, "doc_id", "text")
        val b = onPlain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // AQE off for this one query: the executed plan is then a plain
        // tree the structural assertion can walk (AQE wraps subtrees in
        // query stages; the bucketing behavior itself is AQE-independent)
        withConf("spark.sql.adaptive.enabled" -> "false") {
          val onStored = graft.operators.MinHashLSH.incrementalCandidates(
            stored, batch, "doc_id", "text")
          val a = onStored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(a === b, "bucketed and in-plan probes must agree")
          assert(a.nonEmpty, "probe found no candidates — vacuous plan assertion")
          val plan = onStored.queryExecution.executedPlan
          import org.apache.spark.sql.execution.FileSourceScanExec
          import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          val bucketedScans = plan.collect {
            case f: FileSourceScanExec if f.bucketedScan => f }
          assert(bucketedScans.nonEmpty,
            s"expected a bucketed index scan (plan:\n$plan)")
          // the one legitimate exchange above the scan is the final
          // candidate `.distinct()` — batch-proportional output rows,
          // partitioned on (new_id, corpus_id). What must NEVER appear is
          // a re-partition of index rows on their own bucket keys: the
          // semi-join, the salted capped collection, and the probe join
          // all have to consume the scan's (band, bh) bucketing as-is.
          val indexKeyShuffles = plan.collect {
            case e: ShuffleExchangeExec if e.exists {
              case f: FileSourceScanExec => f.bucketedScan
              case _ => false
            } && (e.outputPartitioning match {
              case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
                h.expressions.flatMap(_.references.map(_.name))
                  .toSet.intersect(Set("band", "bh")).nonEmpty
              case _ => false
            }) => e }
          assert(indexKeyShuffles.isEmpty,
            s"index rows re-partitioned on bucket keys (plan:\n$plan)")
        }
      } finally spark.sql("DROP TABLE IF EXISTS graft_band_idx_b")
    }
  }

  test("bucketed tables join with no shuffle exchange on either side") {
    val wh = tmpDir("bucketing")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val docs = (0 until 5000).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
      val feats = (0 until 5000).map(i => (i.toLong, i % 64)).toDF("doc_id", "sim")
      docs.write.mode("overwrite").option("path", s"$wh/docs_b")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("graft_docs_b")
      feats.write.mode("overwrite").option("path", s"$wh/feats_b")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("graft_feats_b")
      try {
        val j = spark.table("graft_docs_b").join(spark.table("graft_feats_b"), "doc_id")
        assert(j.count() == 5000)
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle (plan:\n$plan)")
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_docs_b")
        spark.sql("DROP TABLE IF EXISTS graft_feats_b")
      }
    }
  }
}

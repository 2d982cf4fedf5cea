package graft.perfbench

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, ExactDedup, MinHashLSH, SimHashDedup, SubstringDedup}

/** The pipeline's lane calls into `graft.operators`, replayed one at a time
  * on the same corpus with the pipeline's default config, so each lane's
  * time and counts are visible on their own (inside the pipeline the four
  * lanes run concurrently). */
final class LaneReplica(ctx: RunContext, pages: DataFrame) {
  private val MaxBucket = 64

  def run(): Map[String, Double] = {
    val t = ctx.tracer
    graft.spark.GraftFunctions.register(ctx.spark)
    val extracted = GraftBridge.materialize(pages.select(col("url"),
      xxhash64(col("url")).as("id"), expr("extract_text(html)").as("text")))
    val texts = extracted.select("id", "text")
    val (features, featuresS) = Stats.seconds(t.span("spark.bridge", "materialize.features") {
      GraftBridge.materialize(extracted.repartition(Session.Cores, col("id"))
        .select(col("id"), xxhash64(col("text")).as("th"), expr("doc_features(text)").as("f"))
        .select(col("id"), col("th"), col("f.bands").as("bands"),
          col("f.sim").as("sim"), col("f.fps").as("fps")))
    })
    def lane(name: String)(body: => DataFrame): (DataFrame, Double) =
      Stats.seconds(t.span("operators", name)(GraftBridge.materialize(body)))

    val (exact, exactS) = lane("exact") {
      ExactDedup.starEdgesFromHashes(features.select("th", "id"), "th", "id")
    }
    val ((cands, verified), minhashS) = Stats.seconds {
      val (c, _) = lane("minhash.candidates") {
        MinHashLSH.candidatePairsFromBands(features.select("id", "bands"), MaxBucket)
      }
      val (v, _) = lane("minhash.verify") {
        MinHashLSH.verifyPairs(c, texts, "id", "text", 0.9).select("id_a", "id_b")
      }
      (c, v)
    }
    val (simhash, simhashS) = lane("simhash") {
      SimHashDedup.pairsFromHashes(features.select("id", "sim"), 3, MaxBucket).select("id_a", "id_b")
    }
    val (substring, substringS) = lane("substring") {
      SubstringDedup.pairsFromFingerprints(features.select("id", "fps"), texts, "id", "text",
        200, MaxBucket).select("id_a", "id_b")
    }
    val edges = exact.select("id_a", "id_b").unionByName(verified).unionByName(simhash)
      .unionByName(substring).distinct()
    val (comps, ccS) = lane("cc")(ConnectedComponents.run(edges))
    val candidates = cands.count().toDouble
    val minhashEdges = verified.count().toDouble
    Map(
      "spark.materialize.features_s" -> featuresS,
      "ops.exact.s" -> exactS,
      "ops.exact.edges" -> exact.count().toDouble,
      "ops.minhash.s" -> minhashS,
      "ops.minhash.candidates" -> candidates,
      "ops.minhash.edges" -> minhashEdges,
      "ops.minhash.verify_pass_rate" -> (if (candidates > 0) minhashEdges / candidates else 0.0),
      "ops.simhash.s" -> simhashS,
      "ops.simhash.edges" -> simhash.count().toDouble,
      "ops.substring.s" -> substringS,
      "ops.substring.edges" -> substring.count().toDouble,
      "ops.cc.s" -> ccS,
      "ops.cc.components" -> comps.select("component").distinct().count().toDouble)
  }
}

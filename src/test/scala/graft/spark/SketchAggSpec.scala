package graft.spark

import graft.core.{FreqSketch, HllSketch, ReqSketch, ThetaSketch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite
import scala.util.{Failure, Success, Try}

/** Distributed-aggregation correctness of the sketch aggregates: the
  * partial(update)/shuffle(serialize)/final(merge) path across partitions
  * must answer like a single-threaded sketch over the same stream —
  * the reference's merge semantics (RelativeErrorQuantile.hs:428-476)
  * realized under Spark's TypedImperativeAggregate lifecycle. */
class SketchAggSpec extends AnyFunSuite with SparkSuiteBase {

  test("req_sketch across 1/2/8 partitions matches single-sketch answers within bounds") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val values = (1 to 20000).map(i => (i * 37 % 20011).toDouble)

    val single = ReqSketch()
    values.foreach(single.update)

    for (parts <- Seq(1, 2, 8)) {
      val df = values.toDF("v").repartition(parts)
      val bytes = df.agg(expr("req_sketch(v)")).first().getAs[Array[Byte]](0)
      val sk = ReqSketch.deserialize(bytes)
      assert(sk.count == values.length)
      assert(sk.minimum == values.min && sk.maximum == values.max)
      assert(math.abs(sk.sum - values.sum) < 1e-6 * values.sum)
      for (r <- Seq(0.01, 0.25, 0.5, 0.75, 0.99)) {
        val q = sk.quantile(r)
        val trueRank = values.count(_ < q).toDouble / values.length
        // HRA default: relative error vanishes toward high ranks
        val lb = single.rankLowerBound(r, 3) - 0.02
        val ub = single.rankUpperBound(r, 3) + 0.02
        assert(trueRank >= lb && trueRank <= ub,
          s"parts=$parts r=$r q=$q trueRank=$trueRank not in [$lb,$ub]")
      }
    }
  }

  test("theta_sketch estimate within 3-sigma RSE of exact distinct count") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val n = 200000
    val df = (1 to n).map(i => s"user-${i % 50000}").toDF("u").repartition(8)
    val bytes = df.agg(expr("theta_sketch(u)")).first().getAs[Array[Byte]](0)
    val est = ThetaSketch.deserialize(bytes).estimate
    val rse = 1.0 / math.sqrt(ThetaSketch.DefaultNominalEntries)
    assert(math.abs(est - 50000) / 50000 < 3 * rse, s"theta est=$est exact=50000")
  }

  test("hll_sketch estimate within 3-sigma RSE of exact distinct count") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 150000).map(i => (i % 30000).toLong).toDF("u").repartition(8)
    val bytes = df.agg(expr("hll_sketch(u)")).first().getAs[Array[Byte]](0)
    val est = HllSketch.deserialize(bytes).estimate
    val rse = 1.04 / math.sqrt(1 << HllSketch.DefaultLgK)
    assert(math.abs(est - 30000) / 30000 < 3 * rse, s"hll est=$est exact=30000")
  }

  test("theta set expressions: |A ∩ B| and |A \\ B| near exact") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // A = 0..59999, B = 40000..99999 -> |A∩B| = 20000, |A\B| = 40000
    val a = (0 until 60000).toDF("v").agg(expr("theta_sketch(v)")).first().getAs[Array[Byte]](0)
    val b = (40000 until 100000).toDF("v").agg(expr("theta_sketch(v)")).first().getAs[Array[Byte]](0)
    val inter = ThetaSketch.intersection(ThetaSketch.deserialize(a), ThetaSketch.deserialize(b)).estimate
    val anotb = ThetaSketch.aNotB(ThetaSketch.deserialize(a), ThetaSketch.deserialize(b)).estimate
    assert(math.abs(inter - 20000) / 20000 < 0.1, s"intersection est=$inter")
    assert(math.abs(anotb - 40000) / 40000 < 0.1, s"aNotB est=$anotb")
  }

  test("theta_jaccard: exact in exact mode, near-true in estimation mode") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def sk(r: Range) = r.toDF("v").agg(expr("theta_sketch(v)")).first().getAs[Array[Byte]](0)
    def jac(a: Array[Byte], b: Array[Byte]): Double =
      Seq((a, b)).toDF("a", "b").select(expr("theta_jaccard(a, b)")).first().getDouble(0)
    // exact mode (both sets below nominal entries): J is the exact rational
    val small = jac(sk(0 until 300), sk(200 until 500))
    assert(small == 100.0 / 500.0, s"exact-mode J=$small")
    // estimation mode: |A∩B|=20k, |A∪B|=100k -> J=0.2 within 10%
    val big = jac(sk(0 until 60000), sk(40000 until 100000))
    assert(math.abs(big - 0.2) / 0.2 < 0.1, s"estimation-mode J=$big")
    // degenerate: disjoint and identical
    assert(jac(sk(0 until 100), sk(1000 until 1100)) == 0.0)
    assert(jac(sk(0 until 100), sk(0 until 100)) == 1.0)
  }

  test("req_merge / theta_union / hll_union re-merge stored sketch columns") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 10000).map(i => (i % 7, i.toDouble, s"u$i")).toDF("g", "v", "u")
    val perGroup = df.groupBy("g").agg(
      expr("req_sketch(v)").as("rs"),
      expr("theta_sketch(u)").as("ts"),
      expr("hll_sketch(u)").as("hs"))
    val re = perGroup.agg(
      expr("req_merge(rs)").as("rs"),
      expr("theta_union(ts)").as("ts"),
      expr("hll_union(hs)").as("hs")).first()
    val rs = ReqSketch.deserialize(re.getAs[Array[Byte]]("rs"))
    assert(rs.count == 10000L)
    val ts = ThetaSketch.deserialize(re.getAs[Array[Byte]]("ts"))
    assert(math.abs(ts.estimate - 10000) / 10000 < 0.1)
    val hs = HllSketch.deserialize(re.getAs[Array[Byte]]("hs"))
    assert(math.abs(hs.estimate - 10000) / 10000 < 0.1)

    // Every merge aggregate in the builder table, over stored sketches of a
    // non-default config. Three rows spread over 8 partitions leave empty
    // partials, which must not change the answer; an all-null group must
    // evaluate to NULL and then re-merge with real sketches.
    val builds = Map(
      "req_merge" -> "req_sketch(v, 12, false)",
      "theta_union" -> "theta_sketch(u, 32)",
      "hll_union" -> "hll_sketch(u, 14)",
      "freq_merge" -> "freq_sketch(u, 16)",
      "cms_merge" -> "cms_sketch(u, 3, 64)",
      "bloom_merge" -> "bloom_agg(k, 500, 0.05d)",
      "cbloom_merge" -> "cbloom_agg(k, 500, 0.05d)")
    val merges = GraftFunctions.aggregateBuilders.collect {
      case (name, builder) if Try(builder(Seq(Literal(null, BinaryType)))).toOption.exists {
        case ae: AggregateExpression => ae.aggregateFunction.isInstanceOf[SketchMergeAgg[_]]
        case _ => false
      } => name
    }
    assert(merges.toSet == builds.keySet, "every merge aggregate needs a stored-sketch input here")
    // REQ and Freq answers depend on merge order; the other families are order-free
    val summary: Map[String, Array[Byte] => Any] = Map(
      "req_merge" -> { b => val s = ReqSketch.deserialize(b); (s.count, s.k, s.hra) },
      "freq_merge" -> { b => val s = FreqSketch.deserialize(b); (s.streamWeight, s.maxMapSize) })
    def answer(m: String, b: Array[Byte]): Any = summary.get(m).fold[Any](b.toSeq)(_(b))

    val data = (1 to 6000).map(i => (i % 3, i.toDouble, s"u$i", i.toLong)).toDF("g", "v", "u", "k")
    val buildCols = builds.toSeq.map { case (m, b) => expr(b).as(s"s_$m") }
    val sketched = data.groupBy("g").agg(buildCols.head, buildCols.tail: _*)
    val rows = sketched.collect().toSeq
    // 3 rows in 8 slices land in slices 2, 5 and 7: empty partials come first
    def stored(slices: Int): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), sketched.schema)
    def problems(m: String): Seq[String] = {
      val c = s"s_$m"
      def remerge(df: DataFrame): Any = answer(m, df.agg(expr(s"$m($c)")).first().getAs[Array[Byte]](0))
      val expected = remerge(stored(1))
      val withNullGroup = stored(1).select(lit(1).as("g"), col(c))
        .union(Seq(0, 0).toDF("g").select($"g", lit(null).cast(BinaryType).as(c)))
      val grouped = withNullGroup.repartition(8).groupBy("g").agg(expr(s"$m($c)").as(c))
      Seq(
        "across empty partitions" -> Try(remerge(stored(8)) == expected),
        "all-null group is NULL" -> Try(grouped.orderBy("g").first().isNullAt(1)),
        "NULL group re-merged with real sketches" -> Try(remerge(grouped) == expected)
      ).collect {
        case (check, Success(false)) => s"$m $check: wrong answer"
        case (check, Failure(e)) =>
          s"$m $check: ${Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage}"
      }
    }
    val found = merges.flatMap(problems)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("freq_sketch across partitions keeps MG guarantees vs exact counts; freq_merge re-merges") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // Zipf-ish skew so heavy hitters exist above the error floor
    val stream = (0 until 30000).map { i =>
      val r = (i * 2654435761L) % 1000
      val item = if (r < 500) r % 5 else if (r < 800) r % 50 else r
      (i % 4, s"item-$item")
    }
    val exact = stream.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val m = 32
    for (parts <- Seq(1, 8)) {
      val df = stream.toDF("g", "tok").repartition(parts)
      val bytes = df.agg(expr(s"freq_sketch(tok, $m)")).first().getAs[Array[Byte]](0)
      val sk = graft.core.FreqSketch.deserialize(bytes)
      assert(sk.streamWeight == stream.length)
      assert(sk.maxError * (m + 1) <= 2L * stream.length)
      exact.foreach { case (item, t) =>
        assert(sk.lowerBound(item) <= t && t <= sk.upperBound(item))
        if (t > sk.maxError) assert(sk.contains(item), s"parts=$parts heavy $item evicted")
      }
    }
    // freq_merge over stored per-group sketches: weight conserved, bounds hold
    val perGroup = stream.toDF("g", "tok").repartition(8)
      .groupBy("g").agg(expr(s"freq_sketch(tok, $m)").as("fs"))
    val re = graft.core.FreqSketch.deserialize(
      perGroup.agg(expr("freq_merge(fs)")).first().getAs[Array[Byte]](0))
    assert(re.streamWeight == stream.length)
    assert(re.maxError * (m + 1) <= 2L * stream.length)
    exact.foreach { case (item, t) =>
      assert(re.lowerBound(item) <= t && t <= re.upperBound(item))
    }
  }

  test("cms_sketch is exactly distributive: 1/2/8 partitions byte-identical; cms_merge too") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val stream = (0 until 20000).map { i =>
      val r = (i * 2654435761L) % 1000
      (i % 4, s"item-${if (r < 500) r % 7 else r}")
    }
    val exact = stream.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val byParts = Seq(1, 2, 8).map { parts =>
      stream.toDF("g", "tok").repartition(parts)
        .agg(expr("cms_sketch(tok, 4, 128)")).first().getAs[Array[Byte]](0)
    }
    // linearity: ANY partitioning serializes byte-identically
    assert(byParts.forall(java.util.Arrays.equals(_, byParts.head)))
    val sk = graft.core.CmsSketch.deserialize(byParts.head)
    assert(sk.streamWeight == stream.length && sk.rowsConserved)
    exact.foreach { case (item, t) => assert(sk.estimate(item) >= t) }
    // cms_merge over stored per-group sketches == the single-pass table
    val perGroup = stream.toDF("g", "tok").repartition(8)
      .groupBy("g").agg(expr("cms_sketch(tok, 4, 128)").as("cs"))
    val re = perGroup.agg(expr("cms_merge(cs)")).first().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(re, byParts.head))
    // all-null group evals NULL (no poisoned placeholder config)
    val nullRow = Seq((1, null.asInstanceOf[Array[Byte]])).toDF("g", "cs")
      .groupBy("g").agg(expr("cms_merge(cs)").as("m")).first()
    assert(nullRow.isNullAt(1))
  }

  test("string inputs hash in place, equal to hashing their UTF-8 bytes") {
    val backing = "row-buffer: naïve café 日本語 tail".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    for (off <- Seq(0, 3, 12); len <- Seq(0, 1, 8, 17)) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromBytes(backing, off, len)
      assert(SketchInput.hashOf(u) == ThetaSketch.hashBytes(u.getBytes), s"off=$off len=$len")
      assert(SketchInput.hashUtf8(u) == ThetaSketch.hashBytes(java.util.Arrays.copyOfRange(backing, off, off + len)))
    }
  }

  test("sketch aggregates run under ObjectHashAggregate (plan check)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val plan = df.groupBy(lit(1)).agg(expr("req_sketch(v)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate in:\n$plan")
  }

  test("finishers follow null-in-null-out over a LEFT JOIN's unmatched sketches") {
    val sq = spark
    import sq.implicits._
    graft.spark.GraftFunctions.register(sq)
    val sketches = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)).toDF("g", "v")
      .groupBy("g").agg(org.apache.spark.sql.functions.expr("req_sketch(v)").as("sk"),
        org.apache.spark.sql.functions.expr("theta_sketch(v)").as("th"),
        org.apache.spark.sql.functions.expr("hll_sketch(v)").as("hl"),
        org.apache.spark.sql.functions.expr("kll_sketch(v)").as("kl"))
    val dims = Seq("a", "b").toDF("g")
    val joined = dims.join(sketches, Seq("g"), "left")
      .selectExpr("g", "req_quantile(sk, 0.5d) AS q", "req_count(sk) AS c",
        "theta_estimate(th) AS t", "hll_estimate(hl) AS h",
        "kll_quantile(kl, 0.5d) AS k", "theta_intersect_estimate(th, th) AS ti")
      .orderBy("g").collect()
    assert(joined.length == 2)
    val a = joined(0); val b = joined(1)
    assert(!a.isNullAt(1) && a.getDouble(1) == 2.0)
    assert(b.isNullAt(1) && b.isNullAt(2) && b.isNullAt(3) && b.isNullAt(4) &&
      b.isNullAt(5) && b.isNullAt(6), s"unmatched row not all-null: $b")
  }
}

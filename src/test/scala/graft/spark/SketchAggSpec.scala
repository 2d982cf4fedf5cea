package graft.spark

import graft.core.{BloomFilter, CmsSketch, CountingBloomFilter, FreqSketch, HllSketch, KllSketch, Mergeable, ReqSketch, ThetaSketch}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Concat, Expression, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
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

  test("cms_sketch over 4 partitions: item-mode partials whose union passes the item limit merge to single-pass bytes") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val limit = CmsSketch().itemLimit
    // slice p: items 20p .. 20p+39 of group 0, each twice (40 items per
    // slice, 100 in the group), and items 0..9 of group 1
    val slices = (0 until 4).map { p =>
      (0 until 40).flatMap(j => Seq.fill(2)((0, s"tok${20 * p + j}"))) ++ (0 until 10).map(j => (1, s"tok$j"))
    }
    // equal-sized slices: parallelize puts slice p in partition p
    val df = spark.createDataFrame(spark.sparkContext.parallelize(slices.flatten, 4)).toDF("g", "tok")
    val perPartition = df.rdd.mapPartitions(rows => Iterator(rows.filter(_.getInt(0) == 0).map(_.getString(1)).toSet.size))
      .collect()
    assert(perPartition.toSeq == Seq.fill(4)(40) && 40 < limit)
    assert(slices.flatten.filter(_._1 == 0).map(_._2).distinct.size == 100 && 100 > limit)
    // each partition's partial travels as an item image
    slices.foreach { slice =>
      val partial = CmsSketch()
      slice.filter(_._1 == 0).foreach(r => partial.update(r._2))
      assert(CmsSketch.partialImage(partial)(0) == 1)
    }
    def single(rows: Seq[(Int, String)]): Array[Byte] = {
      val s = CmsSketch(); rows.foreach(r => s.update(r._2)); s.serialize()
    }
    val grouped = df.groupBy("g").agg(expr("cms_sketch(tok)").as("cms")).collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    for (g <- Seq(0, 1))
      assert(grouped(g).sameElements(single(slices.flatten.filter(_._1 == g))), s"group $g")
    assert(df.agg(expr("cms_sketch(tok)")).first().getAs[Array[Byte]](0).sameElements(single(slices.flatten)))
  }

  test("req_merge of stored req_sketch partials: every rank it claims exact is the counted rank") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // 20,000 values, two copies of each of 10,000, in 8 groups over 4 partitions
    val n = 20000
    val values = (0 until n).map(i => (i * 7919L % (n / 2)).toDouble / 4)
    val rows = values.zipWithIndex.map { case (v, i) => (i % 8, v) }
    val dir = tmpDir("req-exact")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4)).toDF("g", "v")
      .groupBy("g").agg(expr("req_sketch(v)").as("rs"))
      .write.parquet(s"$dir/partials")
    val merged = spark.read.parquet(s"$dir/partials").agg(expr("req_merge(rs)").as("m")).cache()
    val sk = ReqSketch.deserialize(merged.first().getAs[Array[Byte]](0))
    assert(sk.count == n && sk.isEstimationMode)
    // probe every distinct value from 40 below the HRA threshold rank
    // 1 - 3k/n to the top, each value's midpoint to the next, and past the max
    val sorted = values.sorted.toArray
    def counted(x: Double): Int = { // values below x
      var (lo, hi) = (0, n)
      while (lo < hi) { val m = (lo + hi) >>> 1; if (sorted(m) < x) lo = m + 1 else hi = m }
      lo
    }
    val distinct = sorted.distinct.toSeq
    val threshold = 1.0 - 3.0 * ReqSketch.DefaultK / n
    val from = distinct.indexWhere(v => counted(v).toDouble / n >= threshold) - 40
    val tail = distinct.drop(from)
    val probes = tail ++ tail.zip(tail.tail).map { case (a, b) => (a + b) / 2 } :+ (distinct.last + 1)
    val answers = probes.toDF("x").crossJoin(merged)
      .select($"x", $"m", expr("req_rank(m, x)").as("r"))
      .select($"x", $"r", expr("req_rank_lb(m, r, 3)").as("lb"), expr("req_rank_ub(m, r, 3)").as("ub"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    merged.unpersist()
    val claimed = answers.filter { case (_, _, lb, ub) => lb == ub }
    // non-vacuous: ranks on both sides of the threshold, some claimed exact
    assert(claimed.nonEmpty && claimed.length < answers.length)
    val wrong = claimed.collect {
      case (x, r, _, _) if r != counted(x).toDouble / n => s"rank($x) = $r, counted ${counted(x)}/$n"
    }
    assert(wrong.isEmpty, wrong.take(10).mkString("\n", "\n", ""))
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

  test("2,048 groups over 4 partitions (sort-based fallback): CMS/HLL bytes equal single builds") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // Above 128 groups per task ObjectHashAggregate falls back to sort-based
    // aggregation: every partial buffer is serialized, sorted and merged
    // back through the partial images. Group 0 is heavy (24,000 distinct
    // items and ids), so its CMS and HLL partials take the dense image.
    val groups = 2048
    val light = spark.range(0, groups * 16L).select(
      (col("id") % groups).cast("int").as("gk"),
      (col("id") * 7919 % 1000).cast("double").as("v"),
      (col("id") * 31 % 5000).as("u"),
      concat(lit("t"), (col("id") / groups % 5).cast("long").cast("string")).as("item"))
    val heavy = spark.range(0, 24000L).select(lit(0).as("gk"), col("id").cast("double").as("v"),
      (col("id") + 100000L).as("u"), concat(lit("h"), col("id").cast("string")).as("item"))
    val data = light.union(heavy).repartition(4)
    val sketched = data.groupBy("gk").agg(
      expr("cms_sketch(item)").as("cms"), expr("hll_sketch(u)").as("hll"),
      expr("req_sketch(v)").as("req"), expr("kll_sketch(v)").as("kll"), expr("theta_sketch(u)").as("theta"))
    val got = sketched.collect().map(r => r.getInt(0) -> r).toMap
    assert(got.size == groups)

    val byGroup = data.collect().groupBy(_.getInt(0))
    val problems = Seq.newBuilder[String]
    byGroup.foreach { case (g, rows) =>
      val r = got(g)
      val cms = CmsSketch()
      val hll = HllSketch()
      rows.foreach { row => cms.update(row.getString(3)); hll.update(row.getLong(2)) }
      if (!r.getAs[Array[Byte]]("cms").sameElements(cms.serialize())) problems += s"cms[$g]"
      if (!r.getAs[Array[Byte]]("hll").sameElements(hll.serialize())) problems += s"hll[$g]"
      val vs = rows.map(_.getDouble(1)).sorted
      val n = vs.length
      def exactRank(x: Double) = vs.count(_ < x).toDouble / n
      val req = ReqSketch.deserialize(r.getAs[Array[Byte]]("req"))
      val kll = KllSketch.deserialize(r.getAs[Array[Byte]]("kll"))
      if (req.count != n || req.minimum != vs.head || req.maximum != vs.last) problems += s"req[$g] count/min/max"
      if (kll.count != n || kll.minimum != vs.head || kll.maximum != vs.last) problems += s"kll[$g] count/min/max"
      for (p <- Seq(0.1, 0.5, 0.9)) {
        val x = vs((p * (n - 1)).toInt)
        val est = req.rank(x)
        if (exactRank(x) < req.rankLowerBound(est, 3) - 1e-9 || exactRank(x) > req.rankUpperBound(est, 3) + 1e-9)
          problems += s"req[$g] rank($x) = $est, exact ${exactRank(x)}"
        if (math.abs(kll.rank(x) - exactRank(x)) > kll.normalizedRankError + 1e-9)
          problems += s"kll[$g] rank($x) = ${kll.rank(x)}, exact ${exactRank(x)}"
      }
      val distinct = rows.map(_.getLong(2)).distinct.length
      val theta = ThetaSketch.deserialize(r.getAs[Array[Byte]]("theta"))
      if (distinct < theta.lowerBound(3) || distinct > theta.upperBound(3))
        problems += s"theta[$g] estimate ${theta.estimate}, exact $distinct"
    }
    val found = problems.result()
    assert(found.isEmpty, found.take(20).mkString("\n", "\n", ""))

    // cms_merge / hll_union of the 2,048 group sketches == a 16-group build
    val rolled = sketched.groupBy(($"gk" % 16).as("g16"))
      .agg(expr("cms_merge(cms)").as("cms"), expr("hll_union(hll)").as("hll"))
      .collect().map(r => r.getInt(0) -> r).toMap
    val direct = data.groupBy(($"gk" % 16).as("g16"))
      .agg(expr("cms_sketch(item)").as("cms"), expr("hll_sketch(u)").as("hll"))
      .collect()
    assert(direct.length == 16 && rolled.size == 16)
    direct.foreach { r =>
      val g = r.getInt(0)
      assert(rolled(g).getAs[Array[Byte]]("cms").sameElements(r.getAs[Array[Byte]]("cms")), s"cms_merge[$g]")
      assert(rolled(g).getAs[Array[Byte]]("hll").sameElements(r.getAs[Array[Byte]]("hll")), s"hll_union[$g]")
    }
  }

  test("build aggregates read a bound column in place: same sketch as a computed child, NULLs included") {
    // columns: double, long, string, int; every 7th row is all NULL
    val rows: Seq[InternalRow] = (0 until 3000).map { i =>
      if (i % 7 == 0) InternalRow(null, null, null, null)
      else InternalRow((i * 37 % 1001).toDouble, (i % 500).toLong, UTF8String.fromString(s"s${i % 300}"), i % 400)
    }
    def col(o: Int, dt: DataType) = BoundReference(o, dt, nullable = true)
    val (d, l, str, int) = (col(0, DoubleType), col(1, LongType), col(2, StringType), col(3, IntegerType))
    // computed children of the same value: eval, not an in-place read
    val computed: Map[Expression, Expression] = Map(
      d -> Add(d, Literal(0.0)), l -> Add(l, Literal(0L)), int -> Add(int, Literal(0)),
      str -> Concat(Seq(str, Literal(""))))
    def sketch[S <: Mergeable[S]](agg: BinarySketchAgg[S]): Array[Byte] = {
      var buf = agg.createAggregationBuffer()
      rows.foreach(r => buf = agg.update(buf, r))
      agg.eval(buf).asInstanceOf[Array[Byte]]
    }
    def same[S <: Mergeable[S]](name: String, build: Expression => BinarySketchAgg[S], in: Expression): Unit = {
      val bound = sketch(build(in))
      assert(bound.sameElements(sketch(build(computed(in)))), s"$name over ${in.dataType}")
      val empty = build(in)
      assert(!bound.sameElements(empty.eval(empty.createAggregationBuffer()).asInstanceOf[Array[Byte]]),
        s"$name over ${in.dataType} took no rows")
    }
    same[ReqSketch]("req_sketch", ReqSketchAgg(_), d)
    same[KllSketch]("kll_sketch", KllSketchAgg(_), d)
    Seq(d, l, str, int).foreach { in =>
      same[ThetaSketch]("theta_sketch", ThetaSketchAgg(_), in)
      same[HllSketch]("hll_sketch", HllSketchAgg(_), in)
    }
    same[FreqSketch]("freq_sketch", FreqSketchAgg(_), str)
    same[CmsSketch]("cms_sketch", CmsSketchAgg(_), str)
    same[BloomFilter]("bloom_agg", BloomAgg(_, 1000L, 0.01), l)
    same[CountingBloomFilter]("cbloom_agg", CBloomAgg.sized(_, 1000L, 0.01), l)
  }

  /** Runs `body` with the [[SketchBundle]] rule taken off this session. */
  private def withoutBundle[T](body: => T): T = {
    val experimental = spark.experimental
    val saved = experimental.extraOptimizations
    experimental.extraOptimizations = saved.filterNot(_ == SketchBundle)
    try body finally experimental.extraOptimizations = saved
  }

  /** Per `Aggregate` of the optimized plan: the member count of each
    * distinct bundle it holds. */
  private def bundles(df: DataFrame): Seq[Seq[Int]] =
    df.queryExecution.optimizedPlan.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
      a.aggregateExpressions.flatMap(_.collect {
        case ae @ AggregateExpression(b: SketchBundleAgg, _, _, _, _) => ae.canonicalized -> b.members.size
      }).distinct.map(_._2)
    }

  /** Rows keyed by their first column, binary columns as byte sequences. */
  private def rowsOf(df: DataFrame): Map[Any, Seq[Any]] =
    df.collect().map { r =>
      r.get(0) -> r.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v }
    }.toMap

  /** `build` with the rule on bundles each of its aggregates into one
    * bundle of `members`, and answers byte for byte as with the rule off. */
  private def assertBundledSame(label: String, members: Seq[Int])(build: => DataFrame): Unit = {
    val bundled = build
    assert(bundles(bundled).filter(_.nonEmpty) == members.map(Seq(_)), s"$label: bundles")
    val off = withoutBundle { val df = build; assert(bundles(df).flatten.isEmpty, label); rowsOf(df) }
    val on = rowsOf(bundled)
    assert(on.size == off.size && on.nonEmpty, s"$label: row count")
    on.foreach { case (k, row) => assert(row == off(k), s"$label: group $k") }
  }

  test("bundled sketch aggregates answer byte for byte as unbundled ones") {
    GraftFunctions.register(spark)
    // perfbench's sketch_rollup table, smaller: 2,048 groups of 32 rows in
    // 4 partitions; the 16-group keys each union 128 of them
    val groups = 2048
    val events = spark.range(0L, groups * 32L, 1L, 4).select(
      (col("id") % groups).cast("int").as("gk"),
      (col("id") % 16).cast("int").as("g16"),
      (col("id") * 7919 % 3001).cast("double").as("v"),
      (col("id") % groups + (col("id") / groups % 12).cast("long") * groups.toLong).as("u"),
      concat(lit("t"), floor(log2(col("id") / groups + 1)).cast("string")).as("item"))
    val five = Seq(expr("req_sketch(v)").as("req"), expr("kll_sketch(v)").as("kll"),
      expr("hll_sketch(u)").as("hll"), expr("theta_sketch(u)").as("theta"), expr("cms_sketch(item)").as("cms"))
    assertBundledSame("five sketches, 16 groups", Seq(5))(events.groupBy("g16").agg(five.head, five.tail: _*))
    assertBundledSame("five sketches, 2,048 groups", Seq(5))(events.groupBy("gk").agg(five.head, five.tail: _*))
    // the rollup's three merges over the 2,048 stored groups (held fixed, so
    // only the rollup differs between the two runs)
    val many = withoutBundle(GraftBridge.materialize(events.groupBy("gk").agg(five.head, five.tail: _*)))
    assertBundledSame("rollup merges", Seq(3))(many.groupBy((col("gk") % 16).as("g16"))
      .agg(expr("req_merge(req)").as("req"), expr("hll_union(hll)").as("hll"),
        expr("theta_union(theta)").as("theta")))
    // cluster_stats' aggregate: three sketches beside a count, finishers above
    val docs = spark.range(0L, 6000L, 1L, 4).select((col("id") % 700).as("component"), col("id"),
      concat(lit("http://h"), (col("id") % 97).cast("string")).as("url"),
      expr("repeat('x', cast(id * 31 % 400 as int))").as("text"))
    assertBundledSame("cluster_stats", Seq(3))(docs.groupBy("component").agg(
        count(lit(1)).as("size"),
        GraftFunctions.call("hll_sketch", col("url")).as("url_hll"),
        GraftFunctions.call("theta_sketch", col("id")).as("id_theta"),
        GraftFunctions.call("req_sketch", length(col("text"))).as("len_req"))
      .select(col("component"), col("size"),
        round(GraftFunctions.call("hll_estimate", col("url_hll"))).cast("bigint").as("distinct_urls"),
        GraftFunctions.call("theta_estimate", col("id_theta")).cast("bigint").as("distinct_ids"),
        GraftFunctions.call("req_quantile", col("len_req"), lit(0.5)).as("p50_len"),
        col("len_req")))
  }

  test("one bundle per Aggregate; streaming, DISTINCT and FILTER aggregates stay unbundled (plan check)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = (1 to 200).map(i => (i % 5, i.toDouble, i.toLong % 17)).toDF("g", "v", "u")
    df.createOrReplaceTempView("bundle_plan_t")
    // one bundle, shared by a sketch named twice, beside a non-sketch aggregate
    val shared = spark.sql("""SELECT g, req_sketch(v) a, theta_sketch(u) b, theta_sketch(u) c,
                             |  hll_sketch(u) d, count(*) n FROM bundle_plan_t GROUP BY g""".stripMargin)
    assert(bundles(shared) == Seq(Seq(3)))
    val executed = shared.queryExecution.executedPlan.toString
    assert(executed.contains("sketch_bundle") && executed.contains("ObjectHashAggregate"), executed)
    val r = shared.orderBy("g").first()
    assert(r.getAs[Array[Byte]]("b").sameElements(r.getAs[Array[Byte]]("c")))
    // two Aggregates, one bundle each
    val twoLevels = spark.sql("""SELECT g % 2 k, req_merge(a) a, theta_union(b) b FROM (
                                |  SELECT g, req_sketch(v) a, theta_sketch(u) b FROM bundle_plan_t GROUP BY g)
                                |GROUP BY g % 2""".stripMargin)
    assert(bundles(twoLevels) == Seq(Seq(2), Seq(2)))
    // a lone sketch is left as it is
    assert(bundles(spark.sql("SELECT g, req_sketch(v), count(*) FROM bundle_plan_t GROUP BY g")) == Seq(Seq()))
    // FILTER and DISTINCT as the Column API builds them (SQL text refuses
    // both on a graft function, whose builder returns an AggregateExpression)
    def sketchOf(f: Expression, distinct: Boolean = false, filter: Option[Expression] = None) =
      GraftBridge.column(AggregateExpression(f.asInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateFunction], org.apache.spark.sql.catalyst.expressions.aggregate.Complete, distinct, filter))
    val (v, u) = (UnresolvedAttribute("v"), UnresolvedAttribute("u"))
    // FILTER: the filtered sketch stays outside the bundle of the other two
    assertBundledSame("filtered", Seq(2))(df.groupBy("g").agg(
      sketchOf(ReqSketchAgg(v), filter = Some(GreaterThan(v, Literal(10.0)))).as("a"),
      sketchOf(ThetaSketchAgg(u)).as("b"), sketchOf(HllSketchAgg(u)).as("c")))
    // DISTINCT anywhere in the Aggregate: nothing is bundled
    assert(bundles(df.groupBy("g").agg(sketchOf(ThetaSketchAgg(u), distinct = true),
      sketchOf(HllSketchAgg(u)), sketchOf(ReqSketchAgg(v)))) == Seq(Seq()))
    assert(bundles(df.groupBy("g").agg(countDistinct("u"), sketchOf(HllSketchAgg(u)),
      sketchOf(ReqSketchAgg(v)))) == Seq(Seq()))
    // streaming: the state store keeps each sketch's own buffer
    val stream = spark.readStream.format("rate").load()
      .groupBy((col("value") % 3).as("g"))
      .agg(expr("req_sketch(cast(value AS double))"), expr("hll_sketch(value)"))
    val analyzed = stream.queryExecution.analyzed
    assert(analyzed.isStreaming && SketchBundle(analyzed) == analyzed)
  }
}

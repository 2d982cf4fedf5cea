package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

class CmsSketchSpec extends AnyFunSuite {
  import CmsSketchSpec._

  private def zipf(n: Int, distinct: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    // skewed stream: item k with weight ~ 1/(k+1)
    val weights = (0 until distinct).map(k => 1.0 / (k + 1))
    val total = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
    (0 until n).map { _ =>
      val u = rnd.nextDouble()
      s"tok${cum.indexWhere(u <= _)}"
    }
  }

  test("estimate never under-counts; untracked items estimate >= 0") {
    val items = zipf(20000, 500, 1L)
    val sk = CmsSketch(depth = 4, width = 64) // narrow: collisions guaranteed
    items.foreach(sk.update(_))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    truth.foreach { case (item, c) =>
      assert(sk.estimate(item) >= c, s"under-count for $item")
    }
    assert(sk.estimate("never-seen") >= 0L)
    assert(sk.streamWeight == items.size.toLong)
  }

  test("every row conserves the stream weight") {
    val items = zipf(5000, 200, 2L)
    val sk = CmsSketch(depth = 5, width = 32)
    items.foreach(sk.update(_))
    assert(sk.rowsConserved)
  }

  test("linearity: any partition + merge schedule == single-pass, byte-identical") {
    val items = zipf(8000, 300, 3L)
    val single = CmsSketch(depth = 4, width = 128)
    items.foreach(single.update(_))
    // 7 partials merged in a skewed tree shape
    val parts = items.grouped(1143).toSeq.map { chunk =>
      val p = CmsSketch(depth = 4, width = 128)
      chunk.foreach(p.update(_))
      p
    }
    val left = parts.reduceLeft(_.merge(_))
    assert(java.util.Arrays.equals(left.serialize(), single.serialize()))
    // different shape: pairwise tree
    val parts2 = items.grouped(1143).toSeq.map { chunk =>
      val p = CmsSketch(depth = 4, width = 128)
      chunk.foreach(p.update(_))
      p
    }
    def tree(ps: Seq[CmsSketch]): CmsSketch =
      if (ps.size == 1) ps.head
      else tree(ps.grouped(2).map(g => if (g.size == 2) g(0).merge(g(1)) else g(0)).toSeq)
    assert(java.util.Arrays.equals(tree(parts2).serialize(), single.serialize()))
  }

  test("error stays within the a-priori scale at reasonable width (probabilistic, generous)") {
    val items = zipf(50000, 1000, 4L)
    val sk = CmsSketch(depth = 5, width = 1024)
    items.foreach(sk.update(_))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // e/width * W with depth 5 rows: per-item failure prob e^-5 ~ 0.7%;
    // assert with 3x headroom that NO item of the 1000 blows 3x the scale
    val bound = 3.0 * sk.errorScale
    truth.foreach { case (item, c) =>
      assert(sk.estimate(item) - c <= bound, s"estimate error blew 3x eps*W for $item")
    }
  }

  test("serialize round trip preserves estimates, weight, config") {
    val items = zipf(3000, 100, 5L)
    val sk = CmsSketch(depth = 3, width = 64)
    items.foreach(sk.update(_))
    val back = CmsSketch.deserialize(sk.serialize())
    assert(back.depth == 3 && back.width == 64)
    assert(back.streamWeight == sk.streamWeight)
    items.distinct.foreach(i => assert(back.estimate(i) == sk.estimate(i)))
    assert(java.util.Arrays.equals(back.serialize(), sk.serialize()))
  }

  test("merge rejects mismatched dims; weighted updates supported") {
    val a = CmsSketch(depth = 4, width = 64)
    val b = CmsSketch(depth = 4, width = 128)
    intercept[IllegalArgumentException] { a.merge(b) }
    val c = CmsSketch(depth = 4, width = 64)
    c.update("x", 5L)
    c.update("x", 2L)
    assert(c.estimate("x") >= 7L)
    assert(c.streamWeight == 7L)
    intercept[IllegalArgumentException] { c.update("x", 0L) }
  }

  test("item and dense storage serialize the dense reference bytes across the item limit") {
    for ((depth, width) <- Seq((5, 1024), (4, 1000), (3, 64))) {
      val limit = CmsSketch(depth, width).itemLimit
      assert(limit == width / 16)
      // step the distinct item count n across the limit
      for (n <- (0 to 3 * limit) by math.max(1, limit / 8)) {
        val items = (0 until n).map(i => s"item$i") ++ (0 until n by 3).map(i => s"item$i")
        val sk = CmsSketch(depth, width)
        val ref = new DenseCms(depth, width)
        items.foreach { i => sk.update(i); ref.update(i) }
        val label = s"${depth}x$width n=$n"
        assert(sk.serialize().sameElements(ref.bytes), label)
        assert(sk.rowsConserved, label)
        (items.distinct :+ "absent").foreach(i => assert(sk.estimate(i) == ref.estimate(i), s"$label $i"))
      }
    }
  }

  test("merges of item-mode and dense sketches equal the single-pass bytes") {
    val (depth, width) = (5, 1024)
    def build(items: Seq[String]): CmsSketch = { val s = CmsSketch(depth, width); items.foreach(s.update(_)); s }
    def items(from: Int, n: Int): Seq[String] = (from until from + n).map(i => s"tok$i")
    val limit = CmsSketch(depth, width).itemLimit
    val small1 = items(0, 10)                   // items
    val small2 = items(5, 20)                   // items, overlapping
    val nearLimit = items(100, limit - 4)       // items, two of them cross the limit
    val big = items(1000, 15 * limit)           // dense
    for ((a, b, kind) <- Seq(
           (small1, small2, "items + items"),
           (nearLimit, items(500, limit - 4), "items + items crossing the limit"),
           (small1, big, "items + dense"),
           (big, small1, "dense + items"),
           (big, items(9000, 10 * limit), "dense + dense"))) {
      val single = build(a ++ b).serialize()
      assert(build(a).merge(build(b)).serialize().sameElements(single), kind)
      // through partial images too, as a shuffled aggregate buffer is
      val viaImages = CmsSketch.readPartialImage(CmsSketch.partialImage(build(a)))
        .merge(CmsSketch.readPartialImage(CmsSketch.partialImage(build(b))))
      assert(viaImages.serialize().sameElements(single), s"$kind via partial images")
      // and into a sketch read back from canonical bytes (dense)
      assert(CmsSketch.deserialize(build(a).serialize()).merge(build(b)).serialize().sameElements(single),
        s"$kind into a deserialized sketch")
    }
  }

  test("partial images round-trip to the original bytes, item and dense-tag fallback") {
    for ((depth, width) <- Seq((5, 1024), (3, 100)); n <- Seq(0, 1, 5, 6, 7, 40, 63, 64, 65, 66, 200, 3000)) {
      val sk = CmsSketch(depth, width)
      (0 until n).foreach(i => sk.update(s"w$i", 1L + i % 3))
      val canonical = sk.serialize()
      val image = CmsSketch.partialImage(sk)
      val back = CmsSketch.readPartialImage(image)
      val label = s"${depth}x$width n=$n"
      assert(back.serialize().sameElements(canonical), label)
      assert(back.streamWeight == sk.streamWeight && back.rowsConserved, label)
      if (n <= sk.itemLimit) { // items: (hash, count) pairs after a 21-byte header
        assert(image(0) == 1 && image.length == 1 + 20 + 16 * n, label)
      } else {                 // dense: a tag byte plus the canonical bytes
        assert(image(0) == 0 && image.drop(1).sameElements(canonical), label)
      }
    }
  }

  test("an item-mode partial image is 21 + 16 x items bytes: its header, then (item hash, count) pairs") {
    val sk = CmsSketch(5, 1024)
    val stream = (0 until 200).map(i => s"tok${i % 11}") // 11 items, as a rollup group holds
    stream.foreach(sk.update(_, 3L))
    val image = CmsSketch.partialImage(sk)
    assert(image.length == 21 + 16 * 11)
    val buf = ByteBuffer.wrap(image)
    assert(buf.get() == 1 && buf.getInt() == 5 && buf.getInt() == 1024 && buf.getLong() == 600L && buf.getInt() == 11)
    val pairs = Seq.fill(11)(buf.getLong() -> buf.getLong()).toMap
    val hash = (t: String) => ThetaSketch.hashBytes(t.getBytes(StandardCharsets.UTF_8))
    assert(pairs == stream.groupBy(identity).map { case (t, xs) => hash(t) -> 3L * xs.size })
    assert(CmsSketch.readPartialImage(image).serialize().sameElements(sk.serialize()))
  }

  test("item mode across the limit serializes the dense reference bytes (5x1024, 3x100, 3x64)") {
    for ((depth, width) <- Seq((5, 1024), (3, 100), (3, 64))) {
      val limit = CmsSketch(depth, width).itemLimit
      assert(limit == depth * width / 16 / depth)
      for (n <- Seq(0, 1, limit - 1, limit, limit + 1, limit + 2, 2 * limit + 3).filter(_ >= 0).distinct) {
        // every item twice, the repeats interleaved, so counts pass 1 in item mode
        val items = (0 until n).flatMap(i => Seq(s"item$i", s"item${i / 2}"))
        val sk = CmsSketch(depth, width)
        val ref = new DenseCms(depth, width)
        items.foreach { i => sk.update(i); ref.update(i) }
        val label = s"${depth}x$width n=$n"
        (items.distinct :+ "absent").foreach(i => assert(sk.estimate(i) == ref.estimate(i), s"$label $i"))
        assert(sk.serialize().sameElements(ref.bytes), label)
        // two item-mode halves merged, in memory and through partial images
        val (left, right) = items.splitAt(items.length / 2)
        def build(xs: Seq[String]) = { val s = CmsSketch(depth, width); xs.foreach(s.update(_)); s }
        assert(build(left).merge(build(right)).serialize().sameElements(ref.bytes), s"$label merged")
        val viaImages = CmsSketch.readPartialImage(CmsSketch.partialImage(build(left)))
          .merge(CmsSketch.readPartialImage(CmsSketch.partialImage(build(right))))
        assert(viaImages.serialize().sameElements(ref.bytes), s"$label via partial images")
        assert(build(items).rowsConserved, label)
      }
    }
  }
}

object CmsSketchSpec {
  /** The dense Count-Min of the original implementation, restated: one
    * depth x width table, `%` bucketing, the v1 byte layout. */
  final class DenseCms(depth: Int, width: Int) {
    private val table = new Array[Long](depth * width)
    private var weight = 0L

    private def cell(r: Int, h: Long): Int = {
      var z = h + (r + 1) * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      r * width + ((z & Long.MaxValue) % width).toInt
    }
    private def hash(item: String) = ThetaSketch.hashBytes(item.getBytes(StandardCharsets.UTF_8))

    def update(item: String): Unit = {
      val h = hash(item)
      weight += 1
      (0 until depth).foreach(r => table(cell(r, h)) += 1)
    }
    def estimate(item: String): Long = { val h = hash(item); (0 until depth).map(r => table(cell(r, h))).min }
    def bytes: Array[Byte] = {
      val buf = ByteBuffer.allocate(17 + 8 * table.length)
      buf.put(1.toByte).putInt(depth).putInt(width).putLong(weight)
      table.foreach(buf.putLong)
      buf.array()
    }
  }
}

package graft.core

import java.util.Arrays

import org.scalatest.funsuite.AnyFunSuite

/** `BucketSort` must leave exactly what `Arrays.sort` leaves, bit for bit,
  * on the ranges it buckets and on those it hands back. */
class BucketSortSpec extends AnyFunSuite {

  private val lengths = Seq(0, 1, 31, 32, 33, 100, 127, 128, 129, 1000, 4096, 5000)

  /** Sorts a copy of `xs` between a head and a tail that must stay put. */
  private def checkLongs(label: String, xs: Array[Long]): Unit = {
    val a = Array(7L, -7L) ++ xs ++ Array(Long.MinValue, 3L)
    val expected = a.clone()
    Arrays.sort(expected, 2, 2 + xs.length)
    BucketSort.sort(a, 2, 2 + xs.length)
    assert(a.sameElements(expected), label)
  }

  private def checkDoubles(label: String, xs: Array[Double]): Unit = {
    val a = Array(7.0, -0.0) ++ xs ++ Array(0.0, Double.NaN)
    val expected = a.clone()
    Arrays.sort(expected, 2, 2 + xs.length)
    BucketSort.sort(a, 2, 2 + xs.length)
    val bits = (d: Array[Double]) => d.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(bits(a) == bits(expected), label)
  }

  test("long keys: uniform hashes, duplicates, negatives, full-range spans and skewed ranges") {
    val rnd = new scala.util.Random(1)
    for (n <- lengths) {
      checkLongs(s"hashes n=$n", Array.fill(n)(rnd.nextLong() & Long.MaxValue))
      checkLongs(s"full range n=$n", Array.fill(n)(rnd.nextLong()))
      checkLongs(s"duplicates n=$n", Array.fill(n)(rnd.nextInt(n / 3 + 1).toLong * 1000003L))
      checkLongs(s"all equal n=$n", Array.fill(n)(42L))
      checkLongs(s"extremes n=$n", Array.fill(n)(if (rnd.nextBoolean()) Long.MinValue else Long.MaxValue))
      // most keys in one narrow cluster, a few far away: crowded buckets
      checkLongs(s"skewed n=$n", Array.fill(n)(if (rnd.nextInt(20) == 0) rnd.nextLong() else rnd.nextInt(50).toLong))
    }
  }

  test("doubles: uniform values with signed zeros, duplicates, infinities and skewed ranges") {
    val rnd = new scala.util.Random(2)
    def uniformWithZeros(n: Int) = Array.fill(n)(rnd.nextInt(40) match {
      case 0 => -0.0
      case 1 => 0.0
      case _ => rnd.nextDouble() * 200.0 - 100.0
    })
    for (n <- lengths) {
      checkDoubles(s"uniform n=$n", Array.fill(n)(rnd.nextDouble() * 3000.0))
      checkDoubles(s"signed zeros n=$n", uniformWithZeros(n))
      checkDoubles(s"mostly zeros n=$n", Array.fill(n)(if (rnd.nextBoolean()) -0.0 else 0.0))
      checkDoubles(s"duplicates n=$n", Array.fill(n)(rnd.nextInt(n / 4 + 1).toDouble))
      checkDoubles(s"infinite ends n=$n", uniformWithZeros(n).map(x =>
        if (x > 99.0) Double.PositiveInfinity else if (x < -99.0) Double.NegativeInfinity else x))
      checkDoubles(s"all infinite n=$n", Array.fill(n)(Double.PositiveInfinity))
      checkDoubles(s"tiny span n=$n", Array.fill(n)(rnd.nextInt(3) * java.lang.Double.MIN_VALUE))
      checkDoubles(s"huge span n=$n", Array.fill(n)((rnd.nextDouble() - 0.5) * Double.MaxValue))
      checkDoubles(s"lognormal n=$n", Array.fill(n)(math.exp(rnd.nextGaussian() * 4)))
    }
  }
}

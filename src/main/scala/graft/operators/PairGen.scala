package graft.operators

/** Candidate-pair generation inside LSH-style buckets, skew-safe.
  *
  * Buckets up to `cap` members emit all C(n,2) combinations; hotter buckets
  * (boilerplate templates — SURVEY.md §7 hard part 3) fall back to a STAR:
  * every member pairs with the bucket's minimum id only. The star keeps the
  * bucket connected for clustering (recall flows through the hub after the
  * verify lane + connected components) while bounding pair count linearly —
  * a 10^6-doc hot bucket emits 10^6 - 1 pairs instead of ~5*10^11.
  *
  * Exposed as the graft function `pair_combos(ids, cap)`, one entry of the
  * `GraftFunctions` table (`GraftFunctions.call("pair_combos", ...)`).
  * Implemented as compiled Scala UDFs, NOT `transform`/`flatten`
  * higher-order functions: Catalyst HOF lambdas are interpreted per element
  * (CodegenFallback) and `slice` copies per outer element, which measured
  * ~17us per emitted pair on the bench corpus — the UDF loop is ~100x
  * faster and allocation-linear in the output.
  */
object PairGen {

  case class IdPair(a: Long, b: Long)

  /** Pair count computed in Long: `n * (n-1) / 2` overflows Int for
    * n >= 65536, and a caller passing a permissive cap with a 10^5-member
    * exact-dup group would otherwise throw NegativeArraySizeException —
    * groups over either bound take the linear star fallback. */
  private def allPairsFit(n: Int, cap: Int): Boolean =
    n <= cap && n.toLong * (n - 1) / 2 <= Int.MaxValue.toLong

  /** Sorted all-pairs (n <= cap) or star-to-min-id pairs (n > cap). */
  def idPairs(ids: Seq[Long], cap: Int): Array[IdPair] = {
    val arr = ids.distinct.toArray
    java.util.Arrays.sort(arr)
    val n = arr.length
    if (n < 2) Array.empty
    else if (allPairsFit(n, cap)) {
      val out = new Array[IdPair](n * (n - 1) / 2)
      var k = 0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out(k) = IdPair(arr(i), arr(j)); k += 1; j += 1 }
        i += 1
      }
      out
    } else {
      val hub = arr(0)
      val out = new Array[IdPair](n - 1)
      var i = 1
      while (i < n) { out(i - 1) = IdPair(hub, arr(i)); i += 1 }
      out
    }
  }
}

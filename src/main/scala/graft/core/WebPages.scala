package graft.core

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

/** Deterministic synthetic Common-Crawl-style corpus in the north-rule input
  * shape `(url, warc_ts, html:binary, text, lang)` (BASELINE.json
  * input_hint), with *injected, known duplicate structure* so dup-pair
  * recall has an exact oracle (FIXTURES.md §2):
  *
  *  - exact dups: same text under different urls (clusters of 2-5)
  *  - near dups: token-substitution edits at 1-8% (MinHash/SimHash lanes)
  *  - substring dups: a long shared span inside otherwise-different pages
  *    (suffix-array lane; overall Jaccard deliberately < threshold)
  *  - boilerplate hot bucket: one template shared by ~5% of docs with tiny
  *    per-doc variation (LSH hot-bucket / skew stress)
  *  - singletons: unique filler
  *
  * All randomness flows from one `java.util.Random`-backed seed, so the same
  * (n, seed) reproduces byte-identical pages on any JVM.
  */
object WebPages {

  case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

  /** Dedup criterion of [[truthPairs]] (the north rule's reference
    * config): 5-gram shingle Jaccard (MinHash lane), 64-bit SimHash
    * Hamming (SimHash lane), common substring chars (suffix-array lane). */
  val JaccardThreshold = 0.9
  val SimhashMaxDist = 3
  val MinSubstringLen = 200

  /** Frequent function words (drive langId markers + stopword stats). */
  private val functionWords: Map[String, Array[String]] = Map(
    "en" -> ("the and of to in is it that for on with as at by from they this have or").split(' '),
    "de" -> ("der und die das ist nicht ein eine mit auf von zu im den des sich auch").split(' '),
    "fr" -> ("le la et les des une dans est pour que qui sur avec par plus ne se au du").split(' '),
    "es" -> ("el que los de la en y a las del una por con para es se su al lo como mas").split(' '),
    "zh" -> ("的 是 了 在 有 我 他 这 中 大 来 上 国 个 到 说 们 为 子 和").split(' ')
  )

  /** High-entropy content vocabulary (~4000 deterministic pseudo-words per
    * language). Real web text has near-uniform SimHash bit distributions;
    * with a ~40-word vocab every same-language doc collapses to Hamming<=3
    * of every other (one giant chained component, measured diameter 34 at
    * 160k docs). ~4000 distinct content words restores realistic sketch
    * entropy: unrelated docs share only function words. */
  private val ContentVocabSize = 4096
  private val contentWords: Map[String, Array[String]] = {
    val sylA = Array("ba","ce","di","fo","gu","ha","ki","lo","mu","na","pe","ri","so","tu","va","we","xi","yo","zu","qa")
    val sylB = Array("ran","sel","tin","vor","mak","nel","pos","rud","sam","tor","ver","wil","lex","mon","gar","hen","kol","bur","fal","dim")
    Map(
      "en" -> Array.tabulate(ContentVocabSize)(i => sylA(i % 20) + sylB((i / 20) % 20) + (if (i >= 400) (i / 400).toString else "")),
      "de" -> Array.tabulate(ContentVocabSize)(i => sylB(i % 20) + sylA((i / 20) % 20) + (if (i >= 400) (i / 400).toString else "")),
      "fr" -> Array.tabulate(ContentVocabSize)(i => sylA((i + 7) % 20) + sylA((i / 20) % 20) + (if (i >= 400) (i / 400).toString else "")),
      "es" -> Array.tabulate(ContentVocabSize)(i => sylB((i + 3) % 20) + sylB((i / 20) % 20) + (if (i >= 400) (i / 400).toString else "")),
      "zh" -> {
        val chars = "的是了在有我他这中大来上国个到说们为子和你地出道也时年得就那要下以生会自着去之过".toCharArray
        Array.tabulate(ContentVocabSize)(i => "" + chars(i % 40) + chars((i / 40) % 40) + chars((i / 1600) % 40))
      }
    )
  }
  private val langs = Array("en", "en", "en", "en", "en", "de", "de", "fr", "fr", "es", "zh")

  /** ~35% function words, rest high-entropy content words. */
  private def sentence(rnd: Random, lang: String, len: Int): Array[String] = {
    val fw = functionWords(lang)
    val cw = contentWords(lang)
    Array.fill(len) {
      if (rnd.nextInt(100) < 35) fw(rnd.nextInt(fw.length))
      else cw(rnd.nextInt(cw.length))
    }
  }

  /** Paragraph-structured text: lines of ~12 tokens, already in
    * `HtmlText.normalize` canonical form (single spaces, no empties). */
  private def makeText(rnd: Random, lang: String, nTokens: Int): String = {
    val toks = sentence(rnd, lang, nTokens)
    toks.grouped(12).map(_.mkString(" ")).mkString("\n")
  }

  private def editTokens(rnd: Random, text: String, editRate: Double, lang: String): String = {
    val words = contentWords(lang)
    val lines = text.split('\n').map(_.split(' '))
    val total = lines.map(_.length).sum
    val edits = math.max(1, math.round(total * editRate).toInt)
    var e = 0
    while (e < edits) {
      val li = rnd.nextInt(lines.length)
      val ti = rnd.nextInt(lines(li).length)
      lines(li)(ti) = words(rnd.nextInt(words.length))
      e += 1
    }
    lines.map(_.mkString(" ")).mkString("\n")
  }

  /** Generate `n` pages with seed-determined structure. */
  def generate(n: Int, seed: Long = 42L): IndexedSeq[Page] = {
    val rnd = new Random(seed)
    val out = new mutable.ArrayBuffer[Page](n)
    val baseTs = 1700000000000L // fixed epoch origin; offsets from rnd

    def emit(text: String, lang: String): Unit = {
      val i = out.length
      val url = s"https://host-${(i * 2654435761L) % 997}.example/p/$i"
      val title = s"Page $i"
      out += Page(url, new Timestamp(baseTs + i * 1000L + rnd.nextInt(1000)),
        HtmlText.wrap(url, title, text), text, lang)
    }
    def lang(): String = langs(rnd.nextInt(langs.length))

    // boilerplate hot bucket: ~5% of docs, one shared template + 2-token tail
    val nBoiler = math.max(2, n / 20)
    val boilerLang = "en"
    val boilerBase = makeText(rnd, boilerLang, 160)
    for (_ <- 0 until nBoiler) {
      val tail = sentence(rnd, boilerLang, 2).mkString(" ")
      emit(boilerBase + "\n" + tail, boilerLang)
    }

    // exact-dup clusters: ~8% of docs in clusters of 2-5
    var budget = math.max(2, (n * 8) / 100)
    while (budget > 0) {
      val size = 2 + rnd.nextInt(4)
      val l = lang()
      val text = makeText(rnd, l, 80 + rnd.nextInt(160))
      for (_ <- 0 until math.min(size, budget)) emit(text, l)
      budget -= size
    }

    // near-dup clusters: ~20% of docs, base + edited copies (1-8% edits)
    budget = (n * 20) / 100
    while (budget > 0) {
      val size = 2 + rnd.nextInt(3)
      val l = lang()
      val base = makeText(rnd, l, 120 + rnd.nextInt(160))
      emit(base, l)
      for (_ <- 1 until math.min(size, budget)) {
        val rate = 0.01 + rnd.nextDouble() * 0.07
        emit(editTokens(rnd, base, rate, l), l)
      }
      budget -= size
    }

    // substring-dup pairs: ~8% of docs; a shared >=260-char span inside
    // otherwise-unrelated pages (Jaccard stays below threshold)
    budget = (n * 8) / 100
    while (budget > 1) {
      val l = lang()
      val span = makeText(rnd, l, 60) // ~60 tokens ≈ 300+ chars
      val a = makeText(rnd, l, 150) + "\n" + span + "\n" + makeText(rnd, l, 150)
      val b = makeText(rnd, l, 140) + "\n" + span + "\n" + makeText(rnd, l, 160)
      emit(a, l); emit(b, l)
      budget -= 2
    }

    // singletons: fill the rest
    while (out.length < n) {
      val l = lang()
      emit(makeText(rnd, l, 30 + rnd.nextInt(270)), l)
    }
    out.take(n).toIndexedSeq
  }

  /** Distributed generation for benchmarks: each of `parts` chunks is
    * generated executor-side from its own (seed + chunk) stream — the
    * sandbox stand-in for scanning a 10^12-row Iceberg table (no driver
    * serialization of the corpus; input bytes are born on executors).
    * Duplicate structure is intra-chunk; urls are disambiguated per chunk. */
  def generateDistributed(spark: org.apache.spark.sql.SparkSession, n: Int,
                          seed: Long = 42L, parts: Int = 64): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val meta = (0 until parts).map(i => (i, n / parts + (if (i < n % parts) 1 else 0)))
    spark.createDataset(meta).repartition(parts)
      .flatMap { case (chunk, size) =>
        generate(size, seed + chunk * 0x9E3779B97F4A7C15L).map { p =>
          p.copy(url = p.url.replace(".example/p/", s".example/c$chunk/p/"))
        }
      }
      .toDF()
  }

  /** Largest corpus [[truthPairs]] accepts: its O(n²) loop runs on the
    * driver, 12.5M pair checks at this size. */
  val MaxTruthPages = 5000

  /** Wall-clock bound on one [[truthPairs]] call. */
  private val TruthPairsTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, "minutes")

  /** Brute-force truth pairs (url_a < url_b, kind) under the dedup
    * criterion above — the recall oracle. Exact by construction: every
    * pair is tested on the criterion itself (winnowing-fingerprint
    * prefilter for the substring lane is lossless for spans >= gram length
    * + window - 1 = 175 chars <= [[MinSubstringLen]]).
    * Refuses more than [[MaxTruthPages]] pages before any pair work, and
    * fails after 10 minutes: a corpus-sized input must not turn
    * a fixture oracle into an unbounded driver loop. */
  def truthPairs(pages: Seq[Page]): Set[(String, String, String)] = {
    val n = pages.length
    require(n <= MaxTruthPages,
      s"truthPairs: $n pages exceeds the brute-force limit of $MaxTruthPages " +
        "(an O(n^2) driver loop); sample the corpus first")
    val shingles = pages.map(p => TextOps.shingleHashes(p.text)).toArray // sorted by construction
    val sims = pages.map(p => TextOps.simHash64(p.text)).toArray
    val fps = pages.map(p => TextOps.winnowedFingerprints(p.text).toSet).toArray
    def key(i: Int, j: Int): (String, String) = {
      val (a, b) = (pages(i).url, pages(j).url)
      if (a < b) (a, b) else (b, a)
    }
    // the O(n²/2) pair loop parallelized over driver cores (r6: ~0.5 s
    // single-threaded at n=800 sat inside q_pages_recall's timed path per
    // rep), on a pool of its own so it never starves or waits behind the
    // shared global pool. Each thread owns a disjoint stripe of `i` and a
    // private set; the union of disjoint per-pair verdicts is order-free,
    // so the result set is identical to the sequential loop's.
    val threads = math.max(1, Runtime.getRuntime.availableProcessors())
    def stripe(s: Int): mutable.Set[(String, String, String)] = {
      val local = mutable.Set[(String, String, String)]()
      var i = s
      // a timed-out call's shutdownNow interrupts the stripes
      while (i < n && !Thread.currentThread().isInterrupted) {
        var j = i + 1
        while (j < n) {
          if (pages(i).text == pages(j).text) {
            val k = key(i, j); local += ((k._1, k._2, "exact"))
          } else {
            val jac = sortedJaccard(shingles(i), shingles(j))
            if (jac >= JaccardThreshold) {
              val k = key(i, j); local += ((k._1, k._2, "near"))
            } else if (java.lang.Long.bitCount(sims(i) ^ sims(j)) <= SimhashMaxDist) {
              val k = key(i, j); local += ((k._1, k._2, "simhash"))
            } else if (fps(i).exists(fps(j).contains) &&
                SuffixArray.longestCommonSubstring(pages(i).text, pages(j).text) >= MinSubstringLen) {
              val k = key(i, j); local += ((k._1, k._2, "substring"))
            }
          }
          j += 1
        }
        i += threads
      }
      local
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, r => {
      val t = new Thread(r, "graft-truth-pairs"); t.setDaemon(true); t
    })
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val parts = Await.result(
        Future.sequence((0 until threads).map(s => Future(stripe(s)))), TruthPairsTimeout)
      parts.reduce { (a, b) => a ++= b; a }.toSet
    } finally pool.shutdownNow()
  }

  /** Jaccard of two sorted long arrays (delegates to the shared kernel). */
  def sortedJaccard(a: Array[Long], b: Array[Long]): Double =
    TextOps.sortedJaccard(a, b)
}

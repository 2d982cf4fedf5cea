package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class HtmlTextSpec extends AnyFunSuite {

  test("wrap/extract round-trip is byte-identical (north-rule invariant)") {
    val pages = WebPages.generate(300, seed = 7L)
    pages.foreach { p =>
      val got = HtmlText.extract(p.html)
      assert(got == p.text, s"extraction mismatch for ${p.url}")
    }
  }

  test("boilerplate (nav/header/footer/script/style/head) is dropped") {
    val html = HtmlText.wrap("https://x.example/1", "T & T's <Title>", "alpha beta\ngamma delta")
    val out = HtmlText.extract(html)
    assert(out == "alpha beta\ngamma delta")
    assert(!out.contains("Home"))
    assert(!out.contains("privacy"))
    assert(!out.contains("font:"))
  }

  test("entities decode and special chars survive the round trip") {
    val text = "a & b < c > d \"quoted\" 'apos'"
    val out = HtmlText.extract(HtmlText.wrap("u", "t", text))
    assert(out == text)
  }

  test("comments dropped, br becomes newline, whitespace normalized") {
    val html = "<body><p>a   b</p><!-- hidden --><p>c<br>d</p></body>"
    assert(HtmlText.extract(html) == "a b\nc\nd")
  }

  test("extraction is deterministic and total on arbitrary byte garbage") {
    val rnd = new Random(99L)
    for (_ <- 1 to 200) {
      val bytes = Array.fill(rnd.nextInt(400))(rnd.nextInt(256).toByte)
      val a = HtmlText.extract(bytes)
      val b = HtmlText.extract(bytes.clone())
      assert(a == b)
    }
  }
}

class SuffixArraySpec extends AnyFunSuite {

  test("suffix array sorts all suffixes (banana)") {
    val sa = SuffixArray.build("banana")
    val suffixes = sa.map("banana".substring(_))
    assert(suffixes.toSeq == suffixes.toSeq.sorted)
    assert(sa.toSeq == Seq(5, 3, 1, 0, 4, 2))
  }

  test("LCS via suffix array matches DP oracle (deterministic property)") {
    val rnd = new Random(5L)
    val alphabet = "abc "
    for (_ <- 1 to 300) {
      val a = Array.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val b = Array.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(SuffixArray.longestCommonSubstring(a, b) ==
        TextOps.longestCommonSubstring(a, b), s"a=$a b=$b")
    }
  }

  test("commonSubstringAtLeast agrees with exact LCS (deterministic property)") {
    val rnd = new Random(13L)
    val alphabet = "abcd "
    for (_ <- 1 to 400) {
      val a = Array.fill(20 + rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val b = Array.fill(20 + rnd.nextInt(120))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val lcs = SuffixArray.longestCommonSubstring(a, b)
      for (l <- Seq(1, 3, 5, 8, lcs, lcs + 1) if l >= 1) {
        assert(TextOps.commonSubstringAtLeast(a, b, l) == (lcs >= l),
          s"minLen=$l lcs=$lcs a=$a b=$b")
      }
    }
    // template-heavy case: repeated grams exercise the anchor cap
    val t = "xy" * 500
    assert(TextOps.commonSubstringAtLeast(t, t + "z", 1000))
    assert(!TextOps.commonSubstringAtLeast(t, t, 1001))
  }

  test("LCS on realistic pages matches DP oracle") {
    val pages = WebPages.generate(30, seed = 3L)
    val texts = pages.map(_.text)
    for (i <- texts.indices; j <- (i + 1) until math.min(i + 4, texts.length)) {
      assert(SuffixArray.longestCommonSubstring(texts(i), texts(j)) ==
        TextOps.longestCommonSubstring(texts(i), texts(j)))
    }
  }
}

class WebPagesSpec extends AnyFunSuite {

  test("generation is deterministic: same (n, seed) -> identical corpus") {
    val a = WebPages.generate(120, 42L)
    val b = WebPages.generate(120, 42L)
    assert(a.map(_.url) == b.map(_.url))
    assert(a.map(_.text) == b.map(_.text))
    assert(a.map(_.warc_ts.getTime) == b.map(_.warc_ts.getTime))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.html, y.html) })
  }

  test("injected duplicate structure produces truth pairs of every kind") {
    val pages = WebPages.generate(400, 42L)
    val truth = WebPages.truthPairs(pages)
    val kinds = truth.map(_._3)
    assert(kinds.contains("exact"), "expected exact-dup truth pairs")
    assert(kinds.contains("near"), "expected near-dup truth pairs")
    assert(kinds.contains("substring"), "expected substring-dup truth pairs")
    assert(truth.size > 50)
  }

  test("truthPairs refuses a corpus above its limit before any pair work") {
    val oversized = new IndexedSeq[WebPages.Page] {
      def length: Int = WebPages.MaxTruthPages + 1
      def apply(i: Int): WebPages.Page = throw new AssertionError(s"page $i read")
    }
    val e = intercept[IllegalArgumentException](WebPages.truthPairs(oversized))
    assert(e.getMessage.contains(s"${WebPages.MaxTruthPages + 1} pages exceeds the brute-force limit"),
      e.getMessage)
  }

  test("truthPairs result set is pinned") {
    // recorded when the pair loop ran on the global execution context
    val truth = WebPages.truthPairs(WebPages.generate(400, 42L))
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(truth.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    assert((truth.size, digest) == ((314, "b12913575e1f0072")))
  }

  test("urls are unique") {
    val pages = WebPages.generate(500, 42L)
    assert(pages.map(_.url).distinct.length == pages.length)
  }
}

package graft.core

import java.nio.charset.StandardCharsets

/** HTML body-text extraction for the north-rule input table
  * (`pages(url, warc_ts, html:binary, text, lang)`).
  *
  * `extract(html)` is the pipeline's stage-0 kernel; the per-row invariant
  * (BASELINE.json input_hint) is that its output is byte-identical to the
  * table's `text` column for every url. It is a small general-purpose
  * boilerplate-dropping extractor, not a template-coupled inverse:
  *
  *  - `<script>`, `<style>`, `<head>`, `<nav>`, `<header>`, `<footer>`,
  *    `<aside>` subtrees are dropped entirely (navigation/boilerplate);
  *  - HTML comments are dropped;
  *  - block-level closing tags and `<br>` become newlines, all other tags
  *    vanish;
  *  - entities `&amp; &lt; &gt; &quot; &#39; &nbsp;` are decoded;
  *  - each line is trimmed, runs of intra-line whitespace are collapsed to
  *    one space, empty lines are dropped, lines joined with '\n'.
  *
  * Deterministic: pure function of the bytes, no locale/time dependence.
  */
object HtmlText {

  private val DropTags = Set("script", "style", "head", "nav", "header", "footer", "aside")
  private val BlockTags = Set("p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h4",
    "h5", "h6", "tr", "table", "section", "article", "main", "blockquote", "pre", "title")

  def extract(html: Array[Byte]): String = extract(new String(html, StandardCharsets.UTF_8))

  def extract(html: String): String = {
    val n = html.length
    // chars stream through the SAME whitespace state machine `normalize`
    // implements, fused into the tag scan — no intermediate full-page
    // string between the two passes (this kernel runs once per page over
    // the whole corpus)
    val sb = new java.lang.StringBuilder(html.length / 2)
    var lineHasContent = false
    var pendingSpace = false
    var pendingNewline = false
    @inline def feed(c: Char): Unit = {
      if (c == '\n') {
        if (lineHasContent) pendingNewline = true
        lineHasContent = false
        pendingSpace = false
      } else if (c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r') {
        if (lineHasContent) pendingSpace = true
      } else {
        if (pendingNewline) { sb.append('\n'); pendingNewline = false }
        if (pendingSpace && lineHasContent) sb.append(' ')
        pendingSpace = false
        sb.append(c)
        lineHasContent = true
      }
    }
    var i = 0
    var dropDepth = 0
    var dropTag: String = null
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = html.indexOf('>', i)
          if (close < 0) { i = n } // malformed trailing '<': ignore rest
          else {
            val inner = html.substring(i + 1, close).trim
            val isEnd = inner.startsWith("/")
            val name = {
              val raw = (if (isEnd) inner.substring(1) else inner)
              val sp = raw.indexWhere(ch => ch.isWhitespace || ch == '/')
              (if (sp < 0) raw else raw.substring(0, sp)).toLowerCase
            }
            if (dropDepth > 0) {
              if (name == dropTag) dropDepth += (if (isEnd) -1 else 1)
              if (dropDepth == 0) dropTag = null
            } else if (!isEnd && DropTags.contains(name) && !inner.endsWith("/")) {
              dropDepth = 1; dropTag = name
            } else if (name == "br" || (isEnd && BlockTags.contains(name))) {
              feed('\n')
            }
            i = close + 1
          }
        }
      } else {
        if (dropDepth == 0) {
          if (c == '&') {
            // allocation-free entity decode (this branch fires per '&')
            if (html.startsWith("&amp;", i)) { feed('&'); i += 5 }
            else if (html.startsWith("&lt;", i)) { feed('<'); i += 4 }
            else if (html.startsWith("&gt;", i)) { feed('>'); i += 4 }
            else if (html.startsWith("&quot;", i)) { feed('"'); i += 6 }
            else if (html.startsWith("&#39;", i)) { feed('\''); i += 5 }
            else if (html.startsWith("&nbsp;", i)) { feed(' '); i += 6 }
            else { feed('&'); i += 1 }
          } else { feed(c); i += 1 }
        } else i += 1
      }
    }
    sb.toString
  }

  /** All `<a href=...>` targets in document order — the link-graph
    * extraction stage of a crawl pipeline (outlink counts, host-level
    * PageRank-ish signals, frontier discovery). Deliberately includes
    * anchors inside nav/header/footer: the link graph wants every edge,
    * boilerplate or not (unlike `extract`, which drops those subtrees).
    *
    * Parsing rules (pure function of the bytes, single pass):
    *  - tag name and attribute name matched case-insensitively;
    *  - double-quoted, single-quoted, and unquoted href values accepted
    *    (unquoted ends at whitespace or tag end);
    *  - `&amp;` entity-decoded in the value (the one entity HTML requires
    *    escaping inside attribute values);
    *  - anchors inside comments are skipped; empty href values dropped.
    */
  def outlinks(html: Array[Byte]): Array[String] =
    outlinks(new String(html, StandardCharsets.UTF_8))

  def outlinks(html: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    startTags(html) { (inner, name, _) =>
      if (name == "a") attrValue(inner, "href").filter(_.nonEmpty)
        .foreach(v => out += v.replace("&amp;", "&"))
    }
    out.toArray
  }

  /** `<a href>` links WITH their anchor text — the per-target relevance
    * signal of the link graph (inlink descriptions aggregate host-side).
    * The text is everything between the anchor's `>` and the next `</a`
    * (case-insensitive), inner markup stripped, whitespace collapsed,
    * `&amp;` decoded; unterminated anchors take the rest of the document.
    * Scanning resumes right after the opening tag (same traversal as
    * [[outlinks]], so the href list stays identical: `anchors(h).map(_._1)
    * == outlinks(h)` for comment-free html — pinned in OutlinksSpec). */
  def anchors(html: Array[Byte]): Array[(String, String)] =
    anchors(new String(html, StandardCharsets.UTF_8))

  def anchors(html: String): Array[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    startTags(html) { (inner, name, close) =>
      if (name == "a") attrValue(inner, "href").filter(_.nonEmpty).foreach { v =>
        val textEnd = indexOfIgnoreCase(html, "</a", close + 1)
        val raw = html.substring(close + 1, if (textEnd < 0) html.length else textEnd)
        out += ((v.replace("&amp;", "&"), collapseText(raw)))
      }
    }
    out.toArray
  }

  /** Head metadata a crawl pipeline acts on before any content analysis:
    * `<link rel=canonical href=...>` (the publisher-declared dedup key —
    * canonical-URL grouping collapses print/mobile/tracking variants
    * without touching content) and `<meta name=robots content=...>`
    * (index/follow gating per RFC 9309's HTML companion convention).
    *
    * Rules (same single-pass tag traversal as [[outlinks]]):
    *  - first canonical wins; empty hrefs ignored; `&amp;` decoded;
    *  - robots directives OR across multiple meta tags; tokens matched
    *    case-insensitively after comma-split+trim; `none` is the
    *    conventional shorthand for `noindex, nofollow`;
    *  - other `<link rel>`/`<meta name>` values are ignored; comments
    *    skipped. Absent → ("", false, false). */
  def headMeta(html: Array[Byte]): HeadMeta =
    headMeta(new String(html, StandardCharsets.UTF_8))

  def headMeta(html: String): HeadMeta = {
    var canonical = ""
    var noindex = false
    var nofollow = false
    startTags(html) { (inner, name, _) =>
      if (name == "link") {
        if (attrValue(inner, "rel").exists(_.trim.equalsIgnoreCase("canonical")) &&
          canonical.isEmpty)
          attrValue(inner, "href").filter(_.nonEmpty)
            .foreach(v => canonical = v.replace("&amp;", "&"))
      } else if (name == "meta") {
        if (attrValue(inner, "name").exists(_.trim.equalsIgnoreCase("robots")))
          attrValue(inner, "content").foreach { content =>
            content.split(',').foreach { tok =>
              tok.trim.toLowerCase match {
                case "noindex"  => noindex = true
                case "nofollow" => nofollow = true
                case "none"     => noindex = true; nofollow = true
                case _          => ()
              }
            }
          }
      }
    }
    HeadMeta(canonical, noindex, nofollow)
  }

  /** The one start-tag walk of [[outlinks]], [[anchors]] and [[headMeta]]:
    * calls `f(inner, name, close)` for every start tag in document order,
    * where `inner` is the trimmed text between `<` and the `>` at index
    * `close`, and `name` the lower-cased tag name. Comments are skipped, end
    * tags ignored, and scanning resumes right after each tag's `>`; an
    * unterminated tag ends the walk. */
  private def startTags(html: String)(f: (String, String, Int) => Unit): Unit = {
    val n = html.length
    var i = 0
    while (i < n) {
      if (html.charAt(i) == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          val close = html.indexOf('>', i)
          if (close < 0) i = n
          else {
            val inner = html.substring(i + 1, close).trim
            if (!inner.startsWith("/")) {
              val sp = inner.indexWhere(ch => ch.isWhitespace || ch == '/')
              f(inner, (if (sp < 0) inner else inner.substring(0, sp)).toLowerCase, close)
            }
            i = close + 1
          }
        }
      } else i += 1
    }
  }

  private def indexOfIgnoreCase(s: String, needle: String, from: Int): Int = {
    val n = s.length - needle.length
    var i = math.max(from, 0)
    while (i <= n) {
      var j = 0
      while (j < needle.length &&
        Character.toLowerCase(s.charAt(i + j)) == needle.charAt(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Strip `<...>` spans, decode `&amp;`, collapse whitespace runs, trim. */
  private def collapseText(raw: String): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    var inTag = false
    var pendingWs = false
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (inTag) { if (ch == '>') inTag = false }
      else if (ch == '<') inTag = true
      else if (ch.isWhitespace) { if (sb.length > 0) pendingWs = true }
      else {
        if (pendingWs) { sb.append(' '); pendingWs = false }
        sb.append(ch)
      }
      i += 1
    }
    sb.toString.replace("&amp;", "&")
  }

  /** First value of the named attribute inside a tag's `<...>` content
    * (name matched case-insensitively at a token boundary). */
  private def attrValue(inner: String, attr: String): Option[String] = {
    val lower = inner.toLowerCase
    var from = 0
    while (from < lower.length) {
      val at = lower.indexOf(attr, from)
      if (at < 0) return None
      val beforeOk = at > 0 && (lower.charAt(at - 1).isWhitespace)
      var j = at + attr.length
      while (j < inner.length && inner.charAt(j).isWhitespace) j += 1
      if (beforeOk && j < inner.length && inner.charAt(j) == '=') {
        j += 1
        while (j < inner.length && inner.charAt(j).isWhitespace) j += 1
        if (j >= inner.length) return Some("")
        val q = inner.charAt(j)
        if (q == '"' || q == '\'') {
          val end = inner.indexOf(q, j + 1)
          return Some(if (end < 0) inner.substring(j + 1) else inner.substring(j + 1, end))
        } else {
          var end = j
          while (end < inner.length && !inner.charAt(end).isWhitespace) end += 1
          return Some(inner.substring(j, end))
        }
      }
      from = at + attr.length
    }
    None
  }

  /** Trim lines, collapse intra-line whitespace runs, drop empties.
    * Single-pass (no regex, no per-line allocations — this runs per page in
    * the extraction stage of the pipeline). */
  def normalize(raw: String): String = {
    val n = raw.length
    val sb = new java.lang.StringBuilder(n)
    var lineHasContent = false
    var pendingSpace = false
    var pendingNewline = false
    var i = 0
    while (i < n) {
      val c = raw.charAt(i)
      if (c == '\n') {
        if (lineHasContent) pendingNewline = true
        lineHasContent = false
        pendingSpace = false
      } else if (c == ' ' || c == '\t' || c == '\u000B' || c == '\f' || c == '\r') {
        if (lineHasContent) pendingSpace = true
      } else {
        if (pendingNewline) { sb.append('\n'); pendingNewline = false }
        if (pendingSpace && lineHasContent) sb.append(' ')
        pendingSpace = false
        sb.append(c)
        lineHasContent = true
      }
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------- generation

  /** Deterministic page template used by the synthetic corpus generator
    * (FIXTURES.md §2). The body paragraphs carry `text` (one `<p>` per
    * line); everything else is boilerplate that `extract` must drop.
    * Invariant: `extract(wrap(url, title, text)) == normalize(text)`. */
  def wrap(url: String, title: String, text: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(text.length + 512)
    sb.append("<!DOCTYPE html>\n<html>\n<head>\n")
    sb.append("<title>").append(escape(title)).append("</title>\n")
    sb.append("<meta charset=\"utf-8\"/>\n")
    sb.append("<style>body { font: 14px sans-serif; }</style>\n")
    sb.append("<script>var trk='").append(escape(url)).append("';</script>\n")
    sb.append("</head>\n<body>\n")
    sb.append("<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a></nav>\n")
    sb.append("<header><h1>").append(escape(title)).append("</h1></header>\n")
    sb.append("<main>\n")
    normalize(text).split('\n').foreach { line =>
      sb.append("  <p>").append(escape(line)).append("</p>\n")
    }
    sb.append("</main>\n")
    sb.append("<footer>&copy; example.org &#39;legal&#39; &amp; privacy</footer>\n")
    sb.append("</body>\n</html>\n")
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  def escape(s: String): String = {
    var i = 0
    val n = s.length
    var needs = false
    while (i < n && !needs) {
      val c = s.charAt(i)
      needs = c == '&' || c == '<' || c == '>' || c == '"' || c == '\''
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(n + 16)
    i = 0
    while (i < n) {
      s.charAt(i) match {
        case '&'  => sb.append("&amp;")
        case '<'  => sb.append("&lt;")
        case '>'  => sb.append("&gt;")
        case '"'  => sb.append("&quot;")
        case '\'' => sb.append("&#39;")
        case c    => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

/** Result of [[HtmlText.headMeta]]; a case class so the Spark UDF surface
  * exposes named struct fields (canonical, noindex, nofollow). */
case class HeadMeta(canonical: String, noindex: Boolean, nofollow: Boolean)

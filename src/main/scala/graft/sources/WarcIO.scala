package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** WARC 1.0 source/sink kernels — the native container of Common-Crawl-style
  * web corpora (the north rule's input table is "Common-Crawl-style web
  * pages"; in production those pages arrive as WARC response records, one
  * gzip member per record, millions of records per ~1 GB warc.gz segment).
  *
  * Spark-first shape: a WARC segment lands as ONE binary value (e.g. via
  * `spark.read.format("binaryFile")` or a (segment_id, bytes) table), and
  * `warc_parse` explodes it into typed rows — a map-only transform with no
  * shuffle, so ingestion parallelism is exactly the segment-file
  * parallelism. The inverse (`warc_record` + `warcFile`) serializes rows
  * back into spec-compliant record bytes, giving a byte-exact round trip
  * the driver oracle checks (q_warc_roundtrip).
  *
  * Record framing follows ISO 28500: a header block terminated by CRLFCRLF
  * with a mandatory Content-Length, then exactly Content-Length payload
  * bytes, then CRLFCRLF. The parser trusts Content-Length (as real WARC
  * readers must — payloads are binary and may contain anything, including
  * byte strings that look like record headers), so splitting a
  * multi-record file is a linear scan with no per-byte searching inside
  * payloads. Both container variants are supported: plain concatenation
  * (records are self-framing) and the real Common-Crawl layout of one gzip
  * MEMBER per record (`file(gzipPerRecord = true)`), which `parseFile`
  * detects by magic bytes and stream-inflates member-by-member — the
  * gzip path is the one the q_warc_roundtrip oracle checks.
  */
object WarcIO {

  private val CRLF = "\r\n"

  /** One parsed response record. `tsUs` is WARC-Date as epoch microseconds
    * (UTC); `payload` is the HTTP response body (the html bytes), with the
    * HTTP envelope already stripped. */
  case class WarcRow(url: String, tsUs: Long, status: Int, payload: Array[Byte])

  /** WARC 1.1-style date (fractional seconds allowed) so epoch-microsecond
    * timestamps round-trip exactly; whole seconds print second-precision
    * exactly as WARC 1.0 required. */
  private def fmtDate(tsUs: Long): String = {
    val i = java.time.Instant.EPOCH.plus(tsUs, java.time.temporal.ChronoUnit.MICROS)
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(i)
  }

  private def parseDateUs(s: String): Long = {
    val i = java.time.Instant.parse(s)
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** HTTP status every serialized response record carries. */
  val RecordStatus = 200

  /** Serialize one response record (WARC headers + HTTP/1.1 envelope +
    * payload + record terminator). Deterministic: the record id is derived
    * from (url, tsUs), not a random UUID, so re-serialization is
    * byte-identical — required for the oracle round trip and for
    * idempotent re-writes on task retry. */
  def record(url: String, tsUs: Long, payload: Array[Byte]): Array[Byte] = {
    val http = new ByteArrayOutputStream()
    http.write((s"HTTP/1.1 $RecordStatus OK" + CRLF +
      "Content-Type: text/html" + CRLF +
      s"Content-Length: ${payload.length}" + CRLF + CRLF).getBytes(US_ASCII))
    http.write(payload)
    val block = http.toByteArray
    val rid = java.lang.Long.toHexString(
      graft.core.ThetaSketch.hashBytes((url + "\u0000" + tsUs).getBytes(UTF_8)))
    val out = new ByteArrayOutputStream()
    out.write(("WARC/1.0" + CRLF +
      "WARC-Type: response" + CRLF +
      s"WARC-Record-ID: <urn:graft:$rid>" + CRLF +
      s"WARC-Date: ${fmtDate(tsUs)}" + CRLF +
      s"WARC-Target-URI: $url" + CRLF +
      "Content-Type: application/http; msgtype=response" + CRLF +
      s"Content-Length: ${block.length}" + CRLF + CRLF).getBytes(UTF_8))
    out.write(block)
    out.write((CRLF + CRLF).getBytes(US_ASCII))
    out.toByteArray
  }

  /** Concatenate records into one segment-file byte blob. `gzipPerRecord`
    * produces the real Common-Crawl container: one gzip MEMBER per record,
    * members concatenated — readers can stream-decompress and splitters
    * can restart at member boundaries. Plain concatenation (records are
    * self-framing) is the uncompressed variant. */
  def file(records: Seq[Array[Byte]], gzipPerRecord: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    if (gzipPerRecord) records.foreach { r =>
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(r)
      gz.close() // finish() alone never end()s the Deflater — native leak
                 // at member-per-record volume; BAOS.close is a no-op, so
                 // the shared buffer stays writable for the next member
    }
    else records.foreach(out.write)
    out.toByteArray
  }

  /** Inflate ALL concatenated gzip members — `GZIPInputStream` reads the
    * next member header after each trailer while input remains, which is
    * exactly the member-per-record segment layout. */
  private def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length * 4)
    val in = new java.io.ByteArrayInputStream(bytes)
    val gz = new java.util.zip.GZIPInputStream(in, 1 << 16)
    val buf = new Array[Byte](1 << 16)
    try {
      var n = gz.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = gz.read(buf) }
    } finally gz.close() // end() the Inflater's native state promptly
    out.toByteArray
  }

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** Parse every response record in a segment blob. Linear scan:
    * header block → Content-Length → skip payload → terminator. Malformed
    * trailing garbage fails loudly (corrupt segments must not silently
    * drop records at 10^12-doc scale). Non-response records (warcinfo,
    * request, metadata) are skipped, as a crawl segment interleaves them. */
  def parseFile(bytesIn: Array[Byte]): Seq[WarcRow] = {
    val bytes = if (isGzip(bytesIn)) gunzipAll(bytesIn) else bytesIn
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
    var pos = 0
    while (pos < bytes.length) {
      val hdrEnd = indexOfCrlfCrlf(bytes, pos)
      require(hdrEnd >= 0, s"warc: unterminated header block at offset $pos")
      val hdr = new String(bytes, pos, hdrEnd - pos, UTF_8)
      val lines = hdr.split("\r\n")
      require(lines.head.startsWith("WARC/"), s"warc: bad version line at offset $pos: ${lines.head}")
      val fields = lines.tail.map { l =>
        val c = l.indexOf(':')
        require(c > 0, s"warc: bad header line: $l")
        l.substring(0, c).trim.toLowerCase -> l.substring(c + 1).trim
      }.toMap
      val len = fields.getOrElse("content-length",
        sys.error(s"warc: missing Content-Length at offset $pos")).toInt
      val body0 = hdrEnd + 4
      require(body0 + len + 4 <= bytes.length, s"warc: truncated record at offset $pos")
      require(bytes(body0 + len) == '\r' && bytes(body0 + len + 1) == '\n' &&
        bytes(body0 + len + 2) == '\r' && bytes(body0 + len + 3) == '\n',
        s"warc: missing record terminator at offset ${body0 + len}")
      if (fields.get("warc-type").contains("response")) {
        // strip the HTTP envelope: status line + headers, then the body
        val httpHdrEnd = indexOfCrlfCrlf(bytes, body0)
        require(httpHdrEnd >= 0 && httpHdrEnd < body0 + len, "warc: unterminated http envelope")
        val statusLine = {
          var e = body0
          while (bytes(e) != '\r') e += 1
          new String(bytes, body0, e - body0, US_ASCII)
        }
        val status = statusLine.split(" ")(1).toInt
        val payload = java.util.Arrays.copyOfRange(bytes, httpHdrEnd + 4, body0 + len)
        out += WarcRow(
          fields.getOrElse("warc-target-uri", sys.error("warc: response without target uri")),
          parseDateUs(fields.getOrElse("warc-date", sys.error("warc: response without date"))),
          status, payload)
      }
      pos = body0 + len + 4
    }
    out.toSeq
  }

  // ------------------------------------------------------- Spark surface

  /** `warc_parse(bytes) -> array<struct<url,ts_us,status,payload>>` — one
    * segment blob to its response rows; compose with `explode` for the
    * flat table. Map-only: parallelism = input file parallelism. */
  val parseUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((bytes: Array[Byte]) =>
      parseFile(bytes).map(r => (r.url, r.tsUs, r.status, r.payload)))

  /** `warc_record(url, ts_us, payload) -> binary` — one row to one
    * spec-framed record. */
  val recordUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((url: String, tsUs: Long, payload: Array[Byte]) => record(url, tsUs, payload))

  /** Rows → WARC segment blobs, `recordsPerFile` records per segment keyed
    * and ORDERED deterministically by `orderCol` (task retries and
    * partitioning changes must re-produce identical segment bytes).
    * Returns (file_id, bytes). The group is bounded by construction
    * (recordsPerFile), so the collected slice is safe. */
  def writeFiles(rows: DataFrame, urlCol: String, tsUsCol: String,
                 payloadCol: String, orderCol: String, recordsPerFile: Int,
                 gzipPerRecord: Boolean = false): DataFrame = {
    val concatUdf = udf((recs: Seq[Array[Byte]]) => file(recs, gzipPerRecord))
    rows
      .withColumn("_rec", recordUdf(col(urlCol), col(tsUsCol), col(payloadCol)))
      .withColumn("_fid", expr(s"CAST($orderCol AS BIGINT) div $recordsPerFile"))
      .groupBy(col("_fid").as("file_id"))
      .agg(sort_array(collect_list(struct(col(orderCol).as("o"), col("_rec").as("r")))).as("rs"))
      .select(col("file_id"), concatUdf(col("rs.r")).as("bytes"))
  }

  /** Segment blobs → flat response-record table. */
  def readFiles(files: DataFrame, bytesCol: String): DataFrame =
    files
      .select(explode(parseUdf(col(bytesCol))).as("r"))
      .select(col("r._1").as("url"), col("r._2").as("ts_us"),
        col("r._3").as("status"), col("r._4").as("payload"))
}

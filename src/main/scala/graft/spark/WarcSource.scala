package graft.spark

import graft.model.PageRow
import org.apache.spark.sql.{Dataset, SparkSession}

/** WARC ingestion source — the container format Common Crawl actually
  * ships (WARC/1.0, ISO 28500): a file is a sequence of records, each a
  * CRLF-line header block (terminated by a blank line) followed by
  * exactly Content-Length payload bytes and a CRLF CRLF separator.
  * Content-Length framing means payloads are OPAQUE — html containing
  * "WARC/1.0" never desyncs the reader.
  *
  * Only `response` records with a `WARC-Target-URI` become pages;
  * other record types (warcinfo, request, metadata) are skipped,
  * and a structurally corrupt header ends the walk deterministically
  * (same failure-containment discipline as the extraction kernel — bad
  * bytes degrade, never throw).
  *
  * 100 TB shape: `readWarcFiles` maps each WARC file to one task via the
  * binaryFile source and explodes records with a flatMap — a narrow
  * stage, so record parsing runs where the bytes land and only PageRows
  * enter the pipeline. Real CC archives are per-file gzip members;
  * Sniffer already handles gzip payloads per record, and a per-file
  * gunzip would slot in front of parseRecords unchanged.
  */
object WarcSource {

  private val CRLF = "\r\n"

  /** Header values ride on CRLF-framed lines: a CR/LF inside a value
    * (un-normalized crawl input) would inject a forged header and desync
    * every following record, so line breaks are flattened to spaces. */
  private def headerSafe(v: String): String =
    if (v.indexOf('\r') < 0 && v.indexOf('\n') < 0) v
    else v.replace('\r', ' ').replace('\n', ' ')

  /** Full Timestamp precision: getTime truncates to millis, but
    * parquet/Spark timestamps carry MICROS — round-tripping through
    * ofEpochMilli would silently change warc_ts on re-ingest and break
    * (url, warc_ts)-keyed byte parity. getNanos carries the complete
    * fractional second. null → the epoch sentinel. */
  private def instantOf(ts: java.sql.Timestamp): java.time.Instant =
    if (ts == null) java.time.Instant.EPOCH
    else java.time.Instant.ofEpochSecond(
      Math.floorDiv(ts.getTime, 1000L), ts.getNanos.toLong)

  /** One framed WARC/1.0 record: version line, headers, Content-Length,
    * blank line, exactly-Content-Length payload, CRLF CRLF separator. */
  private def writeRecord(headers: Seq[(String, String)],
      payload: Array[Byte], out: java.io.OutputStream): Unit = {
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(CRLF)
    headers.foreach { case (k, v) =>
      sb.append(k).append(": ").append(headerSafe(v)).append(CRLF)
    }
    sb.append("Content-Length: ").append(payload.length).append(CRLF)
    sb.append(CRLF)
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.write(payload)
    out.write(s"$CRLF$CRLF".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Serialize pages as WARC response records (the fixture/writer side —
    * also how an upstream fetcher would hand us bytes). Prior text rides
    * in a base64 extension header (it may contain any character); the
    * lang hint in a plain one. */
  def writeRecords(rows: Seq[PageRow]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    rows.foreach { r =>
      val headers = Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> r.url,
        "WARC-Date" -> instantOf(r.warc_ts).toString) ++
        (if (r.lang != null) Seq("WARC-Graft-Lang" -> r.lang) else Nil) ++
        (if (r.text != null) Seq("WARC-Graft-Prior" ->
          java.util.Base64.getEncoder.encodeToString(
            r.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
         else Nil)
      val payload = if (r.html == null) Array.empty[Byte] else r.html
      writeRecord(headers, payload, out)
    }
    out.toByteArray
  }

  /** Tolerant record walk: yields one PageRow per well-formed response
    * record; stops (without throwing) at the first structural
    * inconsistency. Total on arbitrary bytes. LAZY: advances one record
    * per pull, so the downstream flatMap streams records out of a large
    * archive instead of materializing every payload copy up front. */
  def parseRecords(bytes: Array[Byte]): Iterator[PageRow] =
    if (bytes == null) Iterator.empty
    else new RecordIterator(bytes)

  private final class RecordIterator(bytes: Array[Byte])
      extends Iterator[PageRow] {
    private var i = 0
    private var ok = true
    private var pending: PageRow = null

    private def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < bytes.length &&
        !(bytes(j) == '\r' && bytes(j + 1) == '\n')) j += 1
      if (j + 1 < bytes.length) j else -1
    }

    /** Advance to the next response record; sets `pending` or exhausts. */
    private def advance(): Unit = while (pending == null && ok && i < bytes.length) {
      // version line
      val ve = lineEnd(i)
      if (ve < 0) { ok = false }
      else {
        val version = new String(bytes, i, ve - i,
          java.nio.charset.StandardCharsets.UTF_8)
        if (!version.startsWith("WARC/")) { ok = false }
        else {
          i = ve + 2
          // header lines until the blank separator
          var url: String = null
          var date: String = null
          var lang: String = null
          var prior: String = null
          var warcType: String = null
          var contentLength = -1L
          var headerDone = false
          while (ok && !headerDone) {
            val he = lineEnd(i)
            if (he < 0) ok = false
            else if (he == i) { headerDone = true; i += 2 } // blank line
            else {
              val line = new String(bytes, i, he - i,
                java.nio.charset.StandardCharsets.UTF_8)
              val colon = line.indexOf(':')
              if (colon <= 0) ok = false
              else {
                // Locale.ROOT: a Turkish-locale JVM lowercases 'I' to
                // dotless 'ı', so 'WARC-Target-URI'.toLowerCase would
                // never match and every record would silently skip
                val name = line.substring(0, colon).trim
                  .toLowerCase(java.util.Locale.ROOT)
                val value = line.substring(colon + 1).trim
                name match {
                  case "warc-type" => warcType = value
                  case "warc-target-uri" => url = value
                  case "warc-date" => date = value
                  case "warc-graft-lang" => lang = value
                  case "warc-graft-prior" =>
                    // corrupt base64 (one flipped byte in an archive)
                    // degrades to an absent prior, never a task death
                    prior = try new String(
                      java.util.Base64.getDecoder.decode(value),
                      java.nio.charset.StandardCharsets.UTF_8)
                    catch { case _: IllegalArgumentException => null }
                  case "content-length" =>
                    contentLength = try value.toLong catch {
                      case _: NumberFormatException => -1L
                    }
                  case _ => () // unknown headers are legal — skip
                }
                i = he + 2
              }
            }
          }
          if (ok) {
            if (contentLength < 0 || i + contentLength > bytes.length) ok = false
            else {
              // type/url check BEFORE the payload copy: real archives
              // interleave request/metadata/warcinfo records whose
              // payloads we skip — copying megabytes per skipped record
              // just to discard them is pure allocation pressure in the
              // per-file hot loop
              val wanted = warcType == "response" && url != null &&
                date != null
              val start = i
              i += contentLength.toInt
              // record separator CRLF CRLF (tolerate EOF right after)
              var sep = 0
              while (sep < 4 && i < bytes.length &&
                (bytes(i) == '\r' || bytes(i) == '\n')) { i += 1; sep += 1 }
              if (wanted) {
                val ts = try {
                  java.sql.Timestamp.from(java.time.Instant.parse(date))
                } catch { case _: Exception => null }
                if (ts != null) {
                  val payload = java.util.Arrays.copyOfRange(
                    bytes, start, start + contentLength.toInt)
                  pending = PageRow(url, ts, payload, prior, lang)
                }
              }
            }
          }
        }
      }
    }

    override def hasNext: Boolean = {
      if (pending == null) advance()
      pending != null
    }

    override def next(): PageRow = {
      if (!hasNext) throw new NoSuchElementException("exhausted WARC walk")
      val r = pending
      pending = null
      r
    }
  }

  /** Bounded whole-archive gunzip. Common Crawl ships `.warc.gz` as
    * CONCATENATED per-record gzip members; Java's GZIPInputStream reads
    * successive members transparently, so one stream pass restores the
    * full record sequence. `maxBytes` caps decompression (zip-bomb
    * guard — same discipline as the kernel's maxGunzipBytes); overflow
    * returns the prefix, and the record walk then stops at the first
    * truncated record. Total on arbitrary bytes. */
  def gunzipAll(bytes: Array[Byte],
      maxBytes: Int = 1 << 30): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(bytes.length.toLong * 4L, 1 << 20).toInt)
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val buf = new Array[Byte](65536)
      var total = 0
      var k = in.read(buf)
      while (k >= 0 && total < maxBytes) {
        out.write(buf, 0, math.min(k, maxBytes - total))
        total += k
        k = in.read(buf)
      }
    } catch {
      // a truncated/corrupt trailing member must not lose the good
      // members already decompressed: return the prefix, the record walk
      // then stops at the first truncated record (reviewed)
      case _: java.io.IOException => ()
    }
    out.toByteArray
  }

  /** Distributed WARC read: one task per archive file (binaryFile
    * source), records exploded by a narrow flatMap — parsing runs where
    * the bytes land. `.warc.gz` members are gunzipped per file first
    * (magic-sniffed, so mixed directories work). */
  def readWarcFiles(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
      .select("content")
      .as[Array[Byte]]
      .flatMap { b =>
        val raw = if (b.length >= 2 && (b(0) & 0xff) == 0x1f &&
          (b(1) & 0xff) == 0x8b) gunzipAll(b) else b
        parseRecords(raw)
      }
  }
}

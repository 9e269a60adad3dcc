package graft.spark

import graft.model.PageRow

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
  * 100 TB shape: `parseRecords` is a lazy per-archive iterator, so a
  * reader explodes records with a narrow flatMap over archive bytes
  * (the `extract_warc` query does) — record parsing runs where the
  * bytes land and only PageRows enter the pipeline. Real CC archives
  * are per-record gzip members; a per-file gunzip slots in front of
  * parseRecords unchanged.
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
}

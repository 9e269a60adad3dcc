package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WET emission sink — the text-extract distribution format Common
  * Crawl actually ships (WARC/1.0 `conversion` records, ISO 28500 §6.8:
  * one record per source page carrying the EXTRACTED text as a
  * `text/plain` payload). The pipeline's outward twin of
  * [[WarcSource]]: archives come in as WARC `response` records, text
  * leaves as WET `conversion` records (the reference's analogous stage
  * is emitting the recognized text as a new layer in the output
  * artifact — render_hocr_page/graft,
  * /root/reference/src/ocrmypdf/hocrtransform/, rather than keeping it
  * in internal tables).
  *
  * Layout + determinism contract (the north rule's byte-parity
  * discipline applied to a SINK): rows hash to files by Spark's
  * murmur3 of the url (`repartition(files, url)`) and each file is
  * sorted by (url, ts, text) — the FULL row totalizes the order, so
  * even a table carrying one url twice (recrawl snapshots) serializes
  * to the same bytes on every run. Record ids are deterministic v3
  * UUIDs of (url, date); the WARC version, record ids and the warcinfo
  * record are [[RecordSink]]'s.
  *
  * 100 TB shape: one hash exchange of (url, ts, text) rows, then each
  * task streams its records straight to its own file through the
  * Hadoop FileSystem API (warehouse-scheme-agnostic, same discipline
  * as CheckpointedWriter) — no driver collection, no small-file
  * explosion (`files` pins the output fan-out).
  */
object WetSink {

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  /** One page as a WET conversion record. Content-Length framing keeps
    * the text payload OPAQUE — embedded "WARC/1.0", CRLFs, anything.
    * Framing, header flattening, and the micros-exact ts conversion are
    * [[WarcSource]]'s — ONE owner for both writers. */
  def conversionRecord(url: String, ts: java.sql.Timestamp, text: String,
      out: java.io.OutputStream): Unit = {
    val date = WarcSource.instantOf(ts).toString
    WarcSource.writeRecord(RecordSink.Version, Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> RecordSink.recordId(s"graft-wet:$url\n$date"),
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "Content-Type" -> "text/plain"),
      (if (text == null) "" else text).getBytes(UTF8), out)
  }

  /** Write `df`'s (urlCol, tsCol, textCol) as `files` WET files under
    * `outDir` (part-NNNNN.warc.wet). Rerun-identical bytes (class doc);
    * layout, gzip-member framing, and the files-count contract live in
    * [[RecordSink]] (ONE owner with the WAT writer). */
  def writeWet(df: DataFrame, outDir: String, urlCol: String = "url",
      tsCol: String = "warc_ts", textCol: String = "text",
      files: Int = 32, gzip: Boolean = false): Unit =
    RecordSink.write(df, outDir, urlCol, tsCol, textCol,
      if (gzip) "warc.wet.gz" else "warc.wet", files, gzip,
      RecordSink.warcinfo("graft-wet"), conversionRecord)

  /** Read WET files back as (url, warc_ts, text) — the verification
    * twin of [[writeWet]] (and a real consumer for third-party WET):
    * one task per file, conversion records only, text decoded UTF-8. */
  def readWet(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    WarcSource.readFiles(spark, dir, "*.wet*", "conversion")(p =>
      (p.url, p.warc_ts, new String(p.html, UTF8)))
      .toDF("url", "warc_ts", "text")
  }
}

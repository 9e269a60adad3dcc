package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WAT emission sink — the metadata distribution format Common Crawl
  * ships alongside WARC/WET: one WARC `metadata` record per source
  * page (ISO 28500 §6.9) whose payload is a JSON envelope describing
  * the page rather than its content. Completes the trio: archives come
  * in as WARC `response` records ([[WarcSource]]), text leaves as WET
  * `conversion` records ([[WetSink]]), and structure leaves here —
  * outlinks (with anchor text and chrome flags), meta-refresh /
  * rel=canonical head metadata, and the extraction verdict columns.
  *
  * Envelope determinism: the JSON is built IN THE PLAN by `to_json`
  * over an explicitly constructed struct — field order is the struct's
  * construction order and escaping is Spark's, so the payload is a
  * pure column function and the whole-file byte-parity contract of
  * [[RecordSink]] (hash layout, full-row sort, v3 record ids, MTIME=0
  * gzip members) applies unchanged. Null/absent head metadata is
  * omitted (Spark's ignoreNullFields default), which is itself
  * deterministic.
  *
  * 100 TB shape: the envelope projection is narrow and codegen'd; the
  * only exchange is [[RecordSink]]'s url-hash repartition. */
object WatSink {

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  /** One page as a WAT metadata record (JSON payload framed by
    * Content-Length like every record — the payload stays opaque). */
  def metadataRecord(url: String, ts: java.sql.Timestamp, payload: String,
      out: java.io.OutputStream): Unit = {
    val date = WarcSource.instantOf(ts).toString
    WarcSource.writeRecord(RecordSink.Version, Seq(
      "WARC-Type" -> "metadata",
      "WARC-Record-ID" -> RecordSink.recordId(s"graft-wat:$url\n$date"),
      // the v3 id a graft WARC response record for the same
      // (url, date) carries — deterministic cross-file linkage
      "WARC-Refers-To" -> RecordSink.recordId(s"graft-warc:$url\n$date"),
      "WARC-Target-URI" -> url,
      "WARC-Date" -> date,
      "Content-Type" -> "application/json"),
      (if (payload == null) "" else payload).getBytes(UTF8), out)
  }

  /** The JSON envelope column over an extraction-output row (CC WAT's
    * Envelope → Payload-Metadata → HTML-Metadata shape, carrying this
    * engine's extraction verdict where CC carries HTTP response
    * metadata). '' head fields are folded to null first so absent
    * metadata is OMITTED from the JSON rather than serialized as "". */
  def envelope: org.apache.spark.sql.Column = {
    def opt(c: String) = when(col(c) === "", lit(null)).otherwise(col(c))
    to_json(struct(
      // one extra struct level: .as on to_json's ARGUMENT names the
      // column, not a JSON field — the envelope key needs its own field
      struct(
        struct(
          struct(
            struct(
              opt("title").as("Title"),
              opt("redirect").as("Meta-Refresh"),
              opt("canonical").as("Link-Rel-Canonical"),
              // absent → null → omitted, like the other head fields
              when(size(col("ldjson")) > 0, col("ldjson")).as("JSON-LD"),
              when(size(col("metas")) > 0, col("metas")).as("Metas"),
              when(size(col("feeds")) > 0, col("feeds")).as("Feeds"))
              .as("Head"),
            transform(col("links"), l => struct(
              l.getField("resolved").as("url"),
              l.getField("text").as("text"),
              l.getField("chrome").as("chrome"))).as("Links")
          ).as("HTML-Metadata"),
          struct(col("outcome"), col("engine"), col("format"),
            col("charset"), col("lang"), col("dir"),
            col("n_nodes"), col("n_blocks"), col("truncated"))
            .as("Extraction-Metadata")
        ).as("Payload-Metadata")
      ).as("Envelope")
    )).as("payload")
  }

  /** Write the extraction output as `files` WAT files under `outDir`
    * (part-NNNNN.warc.wat[.gz]). Rerun-identical bytes — layout and
    * framing are [[RecordSink]]'s. */
  def writeWat(ex: DataFrame, outDir: String, files: Int = 32,
      gzip: Boolean = false): Unit =
    RecordSink.write(
      ex.select(col("url"), col("warc_ts"), envelope),
      outDir, "url", "warc_ts", "payload",
      if (gzip) "warc.wat.gz" else "warc.wat", files, gzip,
      RecordSink.warcinfo("graft-wat"), metadataRecord)

  /** Read WAT files back as (url, warc_ts, payload) — the verification
    * twin of [[writeWat]]: one task per file, metadata records only. */
  def readWat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    WarcSource.readFiles(spark, dir, "*.wat*", "metadata")(p =>
      (p.url, p.warc_ts, new String(p.html, UTF8)))
      .toDF("url", "warc_ts", "payload")
  }
}

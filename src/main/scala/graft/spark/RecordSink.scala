package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The partitioned WARC-family file writer — ONE owner for the
  * [[WetSink]] and [[WatSink]] write loops (layout, per-record gzip
  * member framing, file naming, the files-count contract): a drifting
  * copy of the deflate/CRC framing in either sink would silently
  * de-sync their byte-parity guarantees.
  *
  * Layout + determinism contract (the north rule's byte-parity
  * discipline applied to a SINK): rows hash to files by Spark's
  * murmur3 of the url (`repartition(files, url)`) and each file is
  * sorted by (url, ts, payload) — the FULL row totalizes the order, so
  * even a table carrying one url twice (recrawl snapshots) serializes
  * to the same bytes on every run.
  *
  * 100 TB shape: one hash exchange of (url, ts, payload) rows, then
  * each task streams its records straight to its own file through the
  * Hadoop FileSystem API (warehouse-scheme-agnostic, same discipline
  * as CheckpointedWriter) — no driver collection, no small-file
  * explosion (`files` pins the output fan-out). */
private[spark] object RecordSink {

  /** Records declare WARC/1.1 — the version that ALLOWS the
    * fractional-second WARC-Date the micros-exact ts round-trip needs
    * (WARC/1.0 dates are whole seconds only). */
  val Version = "WARC/1.1"

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  /** Deterministic ISO 28500 mandatory record id: a NAME-derived (v3)
    * uuid, so reruns emit identical bytes where a random v4 would not. */
  def recordId(name: String): String =
    "<urn:uuid:" + java.util.UUID.nameUUIDFromBytes(name.getBytes(UTF8)) + ">"

  /** The per-file warcinfo header record of a `prefix` sink: fixed
    * fields and the epoch date only (a wall clock here would break byte
    * parity). */
  def warcinfo(prefix: String)(out: java.io.OutputStream): Unit =
    WarcSource.writeRecord(Version, Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> recordId(s"$prefix:warcinfo"),
      "WARC-Date" -> java.time.Instant.EPOCH.toString,
      "Content-Type" -> "application/warc-fields"),
      "software: graft\r\nformat: WARC File Format 1.1\r\n".getBytes(UTF8),
      out)

  /** RFC 1952 member header: magic, CM=8 (deflate), FLG=0, MTIME=0
    * (determinism — never the wall clock), XFL=0, OS=0 — byte-for-byte
    * what JDK GZIPOutputStream writes. */
  private val GzipMemberHeader: Array[Byte] =
    Array(0x1f.toByte, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)

  /** Write `df`'s (urlCol, tsCol, payloadCol) rows as `files` files of
    * `ext` under `outDir` (part-NNNNN.`ext`), one `header` record per
    * file then one `record` per row. When `gzip` is set each record is
    * its OWN gzip member — the real CC layout (readers can split/seek
    * per record; gunzipAll restores the concatenation). Members are
    * written with ONE reusable Deflater/CRC32/buffer per PARTITION (a
    * GZIPOutputStream per record would allocate a native zlib state per
    * record — the hot write path at 100 TB); the fixed header carries
    * MTIME=0 so rerun byte-identity survives compression. Same bytes as
    * JDK GZIPOutputStream (same header, deflate params, trailer). */
  def write(df: DataFrame, outDir: String, urlCol: String, tsCol: String,
      payloadCol: String, ext: String, files: Int, gzip: Boolean,
      header: java.io.OutputStream => Unit,
      record: (String, java.sql.Timestamp, String,
        java.io.OutputStream) => Unit): Unit = {
    val spark = df.sparkSession
    val conf = org.apache.spark.graft.GraftUtilAccess.serializableConf(
      spark.sparkContext.hadoopConfiguration)
    val prepared = df
      .select(col(urlCol).as("url"), col(tsCol).as("ts"),
        col(payloadCol).as("payload"))
      .repartition(files, col("url"))
      .sortWithinPartitions("url", "ts", "payload")
    val counts = prepared.queryExecution.toRdd.mapPartitionsWithIndex {
      (pid, rows) =>
        val path = new org.apache.hadoop.fs.Path(
          outDir, f"part-$pid%05d.$ext")
        val fs = path.getFileSystem(
          org.apache.spark.graft.GraftUtilAccess.confOf(conf))
        val out = fs.create(path, true)
        val deflater = if (gzip) new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, true) else null
        val crc = if (gzip) new java.util.zip.CRC32 else null
        val raw = if (gzip) new java.io.ByteArrayOutputStream() else null
        val dbuf = if (gzip) new Array[Byte](8192) else null
        def emit(write: java.io.OutputStream => Unit): Unit =
          if (!gzip) write(out)
          else {
            raw.reset(); write(raw)
            val body = raw.toByteArray
            deflater.reset(); crc.reset(); crc.update(body, 0, body.length)
            out.write(GzipMemberHeader)
            deflater.setInput(body); deflater.finish()
            while (!deflater.finished()) {
              val k = deflater.deflate(dbuf)
              if (k > 0) out.write(dbuf, 0, k)
            }
            val tr = new Array[Byte](8)
            val c = crc.getValue; val sz = body.length.toLong
            var i = 0
            while (i < 4) {
              tr(i) = ((c >>> (8 * i)) & 0xff).toByte
              tr(4 + i) = ((sz >>> (8 * i)) & 0xff).toByte
              i += 1
            }
            out.write(tr)
          }
        var n = 0L
        try {
          emit(header)
          rows.foreach { r =>
            val url = r.getUTF8String(0).toString
            val ts = if (r.isNullAt(1)) null
              else org.apache.spark.sql.catalyst.util.DateTimeUtils
                .toJavaTimestamp(r.getLong(1))
            val payload =
              if (r.isNullAt(2)) null else r.getUTF8String(2).toString
            emit(record(url, ts, payload, _))
            n += 1
          }
        } finally {
          out.close()
          if (deflater != null) deflater.end()
        }
        Iterator.single(n)
    }.collect()
    require(counts.length == files,
      s"record sink wrote ${counts.length} files, expected $files")
  }
}

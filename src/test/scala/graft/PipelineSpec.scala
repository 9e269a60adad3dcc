package graft

import graft.engine.Extractor
import graft.gen.SyntheticCorpus
import graft.spark.{CheckpointedWriter, Jobs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** End-to-end pipeline tests through the public surface (the reference's
  * discipline: e2e through the real entry point, tests/conftest.py
  * `check_ocrmypdf`). */
class PipelineSpec extends AnyFunSuite {

  private val spark = TestSpark.spark

  test("e2e: Spark pipeline matches the scalar kernel on every row") {
    import spark.implicits._
    val n = 200
    val viaSpark = Jobs.extract(Jobs.syntheticPages(spark, n), 16)
      .collect().map(r => r.url -> ((r.text, r.outcome, r.spans))).toMap
    val scalar = (0L until n.toLong).map(i => Extractor.extract(SyntheticCorpus.row(i)))
    assert(viaSpark.size == n)
    scalar.foreach { e =>
      val (t, o, sp) = viaSpark(e.url)
      assert(o == e.outcome, s"outcome mismatch for ${e.url}")
      assert(t == e.text, s"text bytes mismatch for ${e.url}")
      assert(sp == e.spans, s"spans mismatch for ${e.url}")
    }
  }

  /** TableIO conformance suite — pins the trait semantics any
    * implementation (incl. the eventual Iceberg swap-in) must satisfy:
    * append accumulates, read-back preserves written values plus the
    * bucket partition column, dynamic overwrite replaces ONLY the
    * buckets present in the new frame, metrics append. Generic over the
    * trait so an IcebergTableIO runs the identical assertions. */
  private def tableIOContract(io: graft.spark.TableIO, root: String): Unit = {
    import spark.implicits._
    val buckets = 4
    def bucketOf(url: String): Int =
      Seq(url).toDF("url").select(Jobs.bucketCol(buckets)).head.getInt(0)
    // urls spanning ≥2 buckets, discovered against the same hash the
    // writer uses (never assume the hash→bucket map)
    val urls = (0 until 32).map(i => s"https://h$i.example.com/p$i")
    val byBucket = urls.groupBy(bucketOf)
    assert(byBucket.size >= 2, s"fixture degenerate: $byBucket")
    val (bA, bB) = { val ks = byBucket.keys.toSeq.sorted; (ks(0), ks(1)) }
    val gen1 = (byBucket(bA).take(2) ++ byBucket(bB).take(2))
      .map(u => (u, s"text-of-$u")).toDF("url", "text")

    // 1. write + read-back: values round-trip; schema = written columns
    //    plus the bucket partition column
    io.writeExtracted(gen1, "t_contract", buckets)
    val r1 = io.readPages(spark, "t_contract")
    assert(r1.columns.toSet == Set("url", "text", "bucket"))
    assert(r1.select("url", "text").collect().map(r =>
        (r.getString(0), r.getString(1))).toSet ==
      gen1.collect().map(r => (r.getString(0), r.getString(1))).toSet)
    // bucket column agrees with the writer's hash
    r1.select("url", "bucket").collect().foreach { r =>
      assert(r.getInt(1) == bucketOf(r.getString(0)), r.toString)
    }

    // 2. append accumulates (no clobber)
    val gen2 = byBucket(bA).slice(2, 3).map(u => (u, s"text-of-$u"))
      .toDF("url", "text")
    io.writeExtracted(gen2, "t_contract", buckets)
    assert(io.readPages(spark, "t_contract").count() == 5)

    // 3. dynamic overwrite: bucket bA fully replaced by the new frame;
    //    bucket bB untouched
    val gen3 = byBucket(bA).take(1).map(u => (u, "REWRITTEN"))
      .toDF("url", "text")
    io.overwriteExtracted(gen3, "t_contract", buckets)
    val r3 = io.readPages(spark, "t_contract")
      .select("url", "text", "bucket").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val inA = r3.filter(_._3 == bA)
    assert(inA.length == 1 && inA(0)._2 == "REWRITTEN", inA.mkString(","))
    assert(r3.count(_._3 == bB) == 2, r3.mkString(","))

    // 4. metrics sink: append semantics, schema preserved
    io.writeMetrics(Seq((1L, "ok")).toDF("n", "k"), "t_metrics")
    io.writeMetrics(Seq((2L, "ok")).toDF("n", "k"), "t_metrics")
    val m = spark.read.parquet(s"$root/t_metrics")
    assert(m.columns.toSet == Set("n", "k") && m.count() == 2)
  }

  test("TableIO contract: parquet impl satisfies the seam semantics") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_tableio").toString
    try tableIOContract(new graft.spark.ParquetTableIO(root), root)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("output validator: real output conforms; seeded corruptions fire") {
    import spark.implicits._
    import graft.spark.OutputValidator
    import graft.model.Span
    val out = Jobs.extract(Jobs.syntheticPages(spark, 200), 16).toDF()
    // the live pipeline output must be invariant-clean
    assert(OutputValidator.violations(out).count() == 0)
    // seeded corruption: each row violates exactly one named invariant
    val bad = Seq(
      // outcome outside the closed vocabulary
      ("u1", "ok text", Seq.empty[Span], "oops:wat", "und", "ltr"),
      // dir outside {ltr, rtl}
      ("u2", "ok text", Seq.empty[Span], "ok", "und", "auto"),
      // lang not a 2-3-letter lowercase code
      ("u3", "ok text", Seq.empty[Span], "ok", "English", "ltr"),
      // span end past the UTF-16 length (astral char: len16=2, cp len=1
      // — an end of 3 is out of bounds in UTF-16 units)
      ("u4", "ab", Seq(Span(0, 5, "p", "/p")), "ok", "und", "ltr"),
      // overlapping spans
      ("u5", "abcdefgh", Seq(Span(0, 5, "p", "/p"), Span(3, 8, "p", "/p")),
        "ok", "und", "ltr"),
      // NFKC-unstable text (U+FB01 LATIN SMALL LIGATURE FI → "fi")
      ("u6", "ﬁle", Seq.empty[Span], "ok", "und", "ltr"),
      // NULL corruption: a null column must NOT audit as conformant
      // (regexp_like(NULL) is NULL → when() would silently pass)
      ("u8", "ok text", Seq.empty[Span], null, "und", "ltr"))
      .toDF("url", "text", "spans", "outcome", "lang", "dir")
    val got = OutputValidator.violations(bad).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("u1", "outcome_vocab"), ("u2", "dir_enum"), ("u3", "lang_enum"),
      ("u4", "span_bounds"), ("u5", "span_order"),
      ("u6", "nfkc_idempotent"), ("u8", "not_null")), got.toString)
    // UTF-16 bound is the right yardstick: an astral-bearing text of 1
    // codepoint but 2 UTF-16 units accepts end=2 (in bounds) — length()
    // semantics would wrongly flag it
    val astral = Seq(("u7", "😀", Seq(Span(0, 2, "p", "/p")),
      "ok", "und", "ltr")).toDF("url", "text", "spans", "outcome", "lang", "dir")
    assert(OutputValidator.violations(astral).count() == 0)
    // outline invariants (only when the headings column is present):
    // levels outside 1..6 and heading text absent from the text both fire
    import graft.model.Heading
    val hb = Seq(
      ("h1", "Intro body text", Seq.empty[Span], "ok", "und", "ltr",
        Seq(Heading(7, "Intro"))),
      ("h2", "some body text", Seq.empty[Span], "ok", "und", "ltr",
        Seq(Heading(2, "Missing Title"))),
      ("h3", "Intro body text", Seq.empty[Span], "ok", "und", "ltr",
        Seq(Heading(2, "Intro"))))
      .toDF("url", "text", "spans", "outcome", "lang", "dir", "headings")
    val hGot = OutputValidator.violations(hb).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(hGot == Set(("h1", "heading_levels"), ("h2", "heading_in_text")),
      hGot.toString)
  }

  test("determinism: different partition counts produce identical tables") {
    val a = Jobs.extract(Jobs.syntheticPages(spark, 120, parallelism = 2), 3)
      .collect().sortBy(_.url).map(r => (r.url, r.text, r.outcome)).toSeq
    val b = Jobs.extract(Jobs.syntheticPages(spark, 120, parallelism = 8), 16)
      .collect().sortBy(_.url).map(r => (r.url, r.text, r.outcome)).toSeq
    assert(a == b)
  }

  test("golden: pipeline output matches frozen fixtures byte-identically") {
    import spark.implicits._
    val golden = spark.read
      .parquet("src/test/resources/golden/extracted")
      .select("url", "text", "outcome", "engine")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    val live = Jobs.extract(Jobs.syntheticPages(spark, SparkEntry.verifyN), 16)
      .collect()
    assert(live.length == golden.size)
    live.foreach { r =>
      val (t, o, e) = golden(r.url)
      assert(r.text == t, s"golden text drift for ${r.url}")
      assert(r.outcome == o && r.engine == e)
    }
  }

  test("resume: crash between bucket commits → rerun completes, no dupes") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val pages = Jobs.syntheticPages(spark, 150)
    val extracted = Jobs.extract(pages, 8)
    val buckets = 8
    // first attempt crashes after 3 bucket commits (fault injection)
    intercept[RuntimeException] {
      CheckpointedWriter.run(extracted, out, buckets, failAfterBuckets = 3)
    }
    val afterCrash = CheckpointedWriter.committedBuckets(spark, out)
    assert(afterCrash.size == 3)
    // resume: completes remaining buckets only
    val resumed = CheckpointedWriter.run(extracted, out, buckets)
    assert(resumed == buckets - 3)
    // final table: exactly one row per url, equal to a direct run
    val readBack = CheckpointedWriter.readBack(spark, out)
    assert(readBack.groupBy("url").count().filter(col("count") > 1).count() == 0)
    assert(readBack.count() == 150)
    val direct = extracted.collect().map(r => r.url -> r.text).toMap
    readBack.select("url", "text").collect().foreach { r =>
      assert(direct(r.getString(0)) == r.getString(1))
    }
    // idempotent: nothing left to do
    assert(CheckpointedWriter.run(extracted, out, buckets) == 0)
    // lineage metrics: every committed bucket has attempt-stamped metrics
    val m = spark.read.parquet(CheckpointedWriter.metricsDir(out))
    assert(m.select("url_hash_bucket").distinct().count() == buckets)
    // every attempt is logged; the authoritative row per bucket is the
    // latest attempt — those must reconcile with the final table
    val latest = m.withColumn("r", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("url_hash_bucket")
          .orderBy(col("attempt").desc)))
      .filter(col("r") === 1)
    assert(latest.agg(sum("docs")).collect()(0).getLong(0) == 150)
    assert(m.select("attempt").distinct().count() == 2) // crash run + resume
  }

  test("checkpointed writer runs the kernel exactly once per run") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_once").toString
    val acc = spark.sparkContext.longAccumulator("kernel_rows")
    val pages = Jobs.syntheticPages(spark, 100).map { r => acc.add(1); r }
    val extracted = Jobs.extractNarrow(pages)
    CheckpointedWriter.run(extracted, out, buckets = 4)
    // data write + per-bucket metrics from ONE execution (persist barrier):
    // without it the metrics groupBy would re-run the kernel → 200
    assert(acc.value == 100L, s"kernel ran ${acc.value / 100.0}x")
    assert(CheckpointedWriter.readBack(spark, out).count() == 100)
  }

  test("attempt claim: racing drivers get distinct attempt numbers") {
    val out = java.nio.file.Files.createTempDirectory("graft_claim").toString
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // all claimants start from the same listing (worst-case race): the
    // exclusive-create claim must still hand out distinct numbers
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val claims = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            gate.await()
            CheckpointedWriter.claimAttempt(fs, out)
          }
        })
      }
      gate.countDown()
      val got = claims.map(_.get()).sorted
      assert(got == (1 to 8), s"claim collision or gap: $got")
    } finally pool.shutdown()
    // a later single claimant continues the sequence
    assert(CheckpointedWriter.claimAttempt(fs, out) == 9)
  }

  test("empty extraction: zero-row pending set commits cleanly") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val none = Jobs.extractNarrow(
      Jobs.syntheticPages(spark, 10).filter(_ => false))
    // fresh output dir + zero rows: the data write leaves only _SUCCESS;
    // the metrics read-back must not choke on schema inference over it
    assert(CheckpointedWriter.run(none, out, buckets = 4) == 4)
    assert(CheckpointedWriter.committedBuckets(spark, out).size == 4)
    // idempotent rerun: everything is committed
    assert(CheckpointedWriter.run(none, out, buckets = 4) == 0)
  }

  test("output layout: bucket dirs + ZSTD codec as written") {
    val out = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, 60), 4).toDF()
      .withColumn("spans", to_json(col("spans")))
    new graft.spark.ParquetTableIO(out).writeExtracted(
      extracted, "extracted", buckets = 4)
    val root = new java.io.File(s"$out/extracted")
    val bucketDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    assert(bucketDirs.toSet == (0 until 4).map(b => s"bucket=$b").toSet,
      s"bucket layout drift: ${bucketDirs.toSeq}")
    // parquet encodes the codec in the part-file suffix — pin ZSTD (the
    // text-heavy output's storage contract) for every data file
    val parts = bucketDirs.flatMap(d =>
      new java.io.File(root, d).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")))
    assert(parts.nonEmpty && parts.forall(_.endsWith(".zstd.parquet")),
      s"non-ZSTD part files: ${parts.filterNot(_.endsWith(".zstd.parquet")).toSeq}")
    // one write task per bucket (repartition on url: partition k holds
    // exactly bucket k): a bucket dir with 2+ part files means buckets
    // collided in one shuffle partition, 0 files means an empty task
    // wrote nothing
    bucketDirs.foreach { d =>
      val n = new java.io.File(root, d).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"$d has $n part files — bucket routing drifted")
    }
    // read-back round-trips every row
    assert(spark.read.parquet(s"$out/extracted").count() == 60)
  }

  test("compact: bin-packs small part files, never regresses, recovers") {
    import graft.spark.Compact
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val dir = s"$out/extracted"
    val df = Jobs.extract(Jobs.syntheticPages(spark, 120), 8).toDF()
      .withColumn("spans", to_json(col("spans")))
      .withColumn("bucket",
        pmod(xxhash64(col("url")), lit(2)).cast("int"))
      .repartition(10) // fragment: ~10 part files per bucket
    df.write.partitionBy("bucket").option("compression", "zstd").parquet(dir)
    val fingerprint = spark.read.parquet(dir)
      .agg(expr("bit_xor(xxhash64(url, text, outcome))")).collect()(0).getLong(0)
    def files(b: Int) = new java.io.File(s"$dir/bucket=$b").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files(0).length > 1 && files(1).length > 1)
    val stats = Compact.compactTable(spark, dir, targetBytes = 512L << 20)
    assert(stats.map(_.action).toSet == Set("compacted"))
    stats.foreach(s => assert(s.filesAfter < s.filesBefore))
    // packed to the single target-size file, still ZSTD, rows unchanged
    (0 to 1).foreach { b =>
      val f = files(b)
      assert(f.length == 1 && f.forall(_.endsWith(".zstd.parquet")))
    }
    // count + fingerprint: bit_xor alone is blind to EVEN duplication
    // (paired hashes cancel), so the row count is load-bearing here
    assert(spark.read.parquet(dir).count() == 120)
    assert(spark.read.parquet(dir)
      .agg(expr("bit_xor(xxhash64(url, text, outcome))")).collect()(0)
      .getLong(0) == fingerprint, "compaction changed the data")
    // idempotent: a second pass has nothing to reclaim
    assert(Compact.compactTable(spark, dir, targetBytes = 512L << 20)
      .map(_.action).toSet == Set("skipped"))
    // crash between the two swap renames: live dir gone, .trash present —
    // the next compact run must RESTORE it (not skip the unparseable
    // `bucket=0.trash` name), and partition discovery must again see a
    // proper int bucket (reading through the .trash name would keep the
    // fingerprint green while the bucket stays stranded)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b0 = new org.apache.hadoop.fs.Path(s"$dir/bucket=0")
    val b0t = new org.apache.hadoop.fs.Path(s"$dir/bucket=0.trash")
    assert(fs.rename(b0, b0t))
    Compact.compactTable(spark, dir, targetBytes = 512L << 20)
    assert(fs.exists(b0) && !fs.exists(b0t),
      "interrupted swap not restored: bucket=0 stranded under .trash")
    assert(spark.read.parquet(dir)
      .agg(expr("bit_xor(xxhash64(url, text, outcome))")).collect()(0)
      .getLong(0) == fingerprint, "crash recovery lost rows")
    // crash AFTER publish: live (new) and .trash (old copy) both present
    // — readers would double-count bucket rows via partition discovery
    // until the sweep deletes the stale trash
    val b1 = new org.apache.hadoop.fs.Path(s"$dir/bucket=1")
    val b1t = new org.apache.hadoop.fs.Path(s"$dir/bucket=1.trash")
    org.apache.hadoop.fs.FileUtil.copy(fs, b1, fs, b1t, false,
      spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(dir).count() > 120) // duplicates visible
    Compact.compactTable(spark, dir, targetBytes = 512L << 20)
    assert(!fs.exists(b1t), "stale post-publish trash not cleaned")
    assert(spark.read.parquet(dir).count() == 120)
    assert(spark.read.parquet(dir)
      .agg(expr("bit_xor(xxhash64(url, text, outcome))")).collect()(0)
      .getLong(0) == fingerprint, "post-publish cleanup changed data")
  }

  test("metrics: per-bucket counts reconcile with the extracted table") {
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, 100), 8)
    val m = Jobs.metrics(extracted, buckets = 4, attempt = 1)
    val agg = m.agg(sum("docs"), sum("failures")).collect()(0)
    assert(agg.getLong(0) == 100)
    val failDirect = extracted.filter(col("outcome").startsWith("error")).count()
    assert(agg.getLong(1) == failDirect)
    // both producers share one core schema: without its extension
    // columns, Jobs.metrics matches the writer's metrics table read back
    val out = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    CheckpointedWriter.run(extracted, out, buckets = 4)
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).toSet
    val written = spark.read.parquet(CheckpointedWriter.metricsDir(out))
    assert(cols(m.drop("skips", "truncations")) == cols(written))
  }

  test("warc source: file round-trip, non-response skip, adversarial bytes") {
    import graft.spark.WarcSource
    val rows = (0L until 40L).map(SyntheticCorpus.row(_))
    // byte round-trip preserves every field the kernel consumes
    val back = WarcSource.parseRecords(WarcSource.writeRecords(rows)).toVector
    assert(back.length == 40)
    rows.zip(back).foreach { case (a, b) =>
      assert(a.url == b.url && a.warc_ts == b.warc_ts)
      assert(java.util.Arrays.equals(a.html, b.html), a.url)
      assert(a.text == b.text && a.lang == b.lang, a.url)
    }
    // real files through the binaryFile source
    val dir = java.nio.file.Files.createTempDirectory("graft_warc")
    (0 until 4).foreach { g =>
      java.nio.file.Files.write(dir.resolve(s"part-$g.warc"),
        WarcSource.writeRecords(rows.slice(g * 10, g * 10 + 10)))
    }
    val fromFiles = WarcSource.readWarcFiles(spark, dir.toString)
      .collect().map(_.url).sorted.toSeq
    assert(fromFiles == rows.map(_.url).sorted)
    // .warc.gz: concatenated per-record gzip members (the real CC layout)
    // restore through the multi-member gunzip
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val members = rows.take(6).map(r =>
      gzip(WarcSource.writeRecords(Seq(r)))).reduce(_ ++ _)
    java.nio.file.Files.write(dir.resolve("gzipped.warc.gz"), members)
    val withGz = WarcSource.readWarcFiles(spark, dir.toString)
      .collect().map(_.url).toSeq
    assert(withGz.length == 46) // 40 plain + 6 gzipped
    assert(rows.take(6).map(_.url).forall(u => withGz.count(_ == u) == 2))
    // warcinfo/request records are skipped; response records still parse
    val mixed = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 3\r\n" +
      "\r\nabc\r\n\r\n").getBytes("UTF-8") ++
      WarcSource.writeRecords(rows.take(2))
    assert(WarcSource.parseRecords(mixed).toVector.map(_.url) ==
      rows.take(2).map(_.url))
    // total on arbitrary bytes: corrupt structures degrade, never throw
    Seq(Array.empty[Byte], "WARC/1.0".getBytes("UTF-8"),
      "WARC/1.0\r\nContent-Length: 99999\r\n\r\nxx".getBytes("UTF-8"),
      "not a warc at all".getBytes("UTF-8"),
      "WARC/1.0\r\nbadheader\r\n\r\n".getBytes("UTF-8")).foreach { b =>
      WarcSource.parseRecords(b).toVector // must not throw
    }
    // corrupt base64 prior degrades to an absent prior, record survives
    val badPrior = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://x.test/a\r\n" +
      "WARC-Date: 2020-01-01T00:00:00Z\r\n" +
      "WARC-Graft-Prior: !!!not-base64!!!\r\n" +
      "Content-Length: 2\r\n\r\nhi\r\n\r\n").getBytes("UTF-8")
    val bp = WarcSource.parseRecords(badPrior).toVector
    assert(bp.length == 1 && bp.head.text == null)
    // a truncated trailing gzip member keeps the good-prefix members
    val goodMembers = rows.take(5).map(r =>
      gzip(WarcSource.writeRecords(Seq(r)))).reduce(_ ++ _)
    val truncatedTail = goodMembers ++
      gzip(WarcSource.writeRecords(Seq(rows(6)))).dropRight(8)
    val restored = WarcSource.parseRecords(
      WarcSource.gunzipAll(truncatedTail)).toVector
    assert(restored.length >= 5,
      s"good prefix lost: only ${restored.length} records survived")
    assert(restored.take(5).map(_.url) == rows.take(5).map(_.url))
  }

  test("wet sink: round-trip, rerun byte-identity, opaque payloads") {
    import graft.spark.WetSink
    import spark.implicits._
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-02-03T04:05:06.123456Z"))
    val rows = Seq(
      ("https://w.test/a", ts, "plain text"),
      // payload framing must keep CRLFs and an embedded version line
      ("https://w.test/b", ts, "line1\r\nWARC/1.0\r\nline3"),
      ("https://w.test/c", ts, "ünïcodé — 数据"),
      ("https://w.test/d", ts, ""),
      ("https://w.test/e", null.asInstanceOf[java.sql.Timestamp], "no ts"))
    val df = rows.toDF("url", "warc_ts", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_wet").toString
    WetSink.writeWet(df, s"$dir/one", files = 3)
    val back = WetSink.readWet(spark, s"$dir/one").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)))
      .sortBy(_._1)
    // null ts serializes as the epoch sentinel; everything else exact
    assert(back.map(_._1).toSeq == rows.map(_._1).sorted)
    assert(back.map(_._3).toSeq ==
      rows.sortBy(_._1).map(_._3))
    assert(back.take(4).forall(_._2 == ts))
    assert(back.last._2 == java.sql.Timestamp.from(java.time.Instant.EPOCH))
    // rerun byte-identity: same table → same files, byte for byte
    WetSink.writeWet(df, s"$dir/two", files = 3)
    (0 until 3).foreach { i =>
      val f = f"part-$i%05d.warc.wet"
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/one", f))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/two", f))
      assert(java.util.Arrays.equals(a, b), s"wet file $f not rerun-stable")
      assert(a.nonEmpty)
    }
    // a WET file is invisible to the response-record reader (warcinfo +
    // conversion records only), and vice versa the WET reader sees all
    val rawWet = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/one", "part-00000.warc.wet"))
    assert(graft.spark.WarcSource.parseRecords(rawWet).isEmpty)
    // ISO 28500 mandatory fields present; WARC/1.1 declared (fractional
    // WARC-Date seconds are a 1.1 feature)
    val head = new String(rawWet.take(400), "UTF-8")
    assert(head.startsWith("WARC/1.1\r\n"))
    assert(head.contains("WARC-Record-ID: <urn:uuid:")
      && head.contains("WARC-Date: "))
    // the real pipeline composition: extract → WET → read-back parity
    val ex = Jobs.extract(Jobs.syntheticPages(spark, 200), 8).toDF()
      .select(col("url"), col("warc_ts"), col("text"))
    WetSink.writeWet(ex, s"$dir/full", files = 4)
    val round = WetSink.readWet(spark, s"$dir/full")
      .collect().map(r => (r.getString(0), r.getString(2))).toMap
    val want = ex.collect().map(r => (r.getString(0), r.getString(2))).toMap
    assert(round == want, "extract → WET → read-back text parity broken")
    // gzip layout (the real CC shipping form): per-RECORD gzip members,
    // same read-back, rerun byte-identity survives compression
    WetSink.writeWet(df, s"$dir/gza", files = 2, gzip = true)
    WetSink.writeWet(df, s"$dir/gzb", files = 2, gzip = true)
    val gz0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/gza", "part-00000.warc.wet.gz"))
    assert(java.util.Arrays.equals(gz0, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/gzb", "part-00000.warc.wet.gz"))),
      "gzip wet output not rerun-stable")
    val gzBack = WetSink.readWet(spark, s"$dir/gza").collect()
      .map(r => (r.getString(0), r.getString(2))).sortBy(_._1)
    assert(gzBack.map(_._1).toSeq == rows.map(_._1).sorted
      && gzBack.map(_._2).toSeq == rows.sortBy(_._1).map(_._3))
    // one gzip member per record (+1 warcinfo): WALK the members
    // exactly — inflate each body to find its end, skip the 8-byte
    // trailer, require the next offset to start a member. (Scanning
    // for 0x1f8b pairs would also match the pair INSIDE deflate
    // payload bytes.)
    def members(b: Array[Byte]): Int = {
      val inf = new java.util.zip.Inflater(true)
      val sink = new Array[Byte](8192)
      var off = 0; var n = 0
      try {
        while (off < b.length) {
          assert((b(off) & 0xff) == 0x1f && (b(off + 1) & 0xff) == 0x8b
            && b(off + 2) == 8 && b(off + 3) == 0,
            s"not a member header at offset $off")
          inf.reset()
          inf.setInput(b, off + 10, b.length - off - 10)
          while (!inf.finished()) inf.inflate(sink)
          off += 10 + (b.length - off - 10 - inf.getRemaining) + 8
          n += 1
        }
      } finally inf.end()
      n
    }
    val allGz = (0 until 2).map(i => java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/gza", f"part-$i%05d.warc.wet.gz")))
    assert(allGz.map(members).sum == rows.length + 2,
      "expected one gzip member per record plus one warcinfo per file")
  }

  test("wat sink: envelope metadata, round-trip, rerun byte-identity") {
    import graft.spark.WatSink
    val dir = java.nio.file.Files.createTempDirectory("graft_wat").toString
    val ex = Jobs.extract(Jobs.syntheticPages(spark, 200), 8).toDF()
    WatSink.writeWat(ex, s"$dir/one", files = 3)
    WatSink.writeWat(ex, s"$dir/two", files = 3)
    (0 until 3).foreach { i =>
      val f = f"part-$i%05d.warc.wat"
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/one", f))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/two", f))
      assert(java.util.Arrays.equals(a, b), s"wat file $f not rerun-stable")
      assert(a.nonEmpty)
    }
    // metadata records are invisible to the response-record reader
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/one", "part-00000.warc.wat"))
    assert(graft.spark.WarcSource.parseRecords(raw).isEmpty)
    val head = new String(raw.take(500), "UTF-8")
    assert(head.startsWith("WARC/1.1\r\n"))
    assert(head.contains("WARC-Type: warcinfo"))
    // every page round-trips, and the envelope carries the page's own
    // outcome, link list, and head metadata (parsed back out of the
    // JSON, not substring-matched)
    val back = WatSink.readWat(spark, s"$dir/one")
    assert(back.count() == 200)
    val ddl = "Envelope STRUCT<`Payload-Metadata`: STRUCT<" +
      "`HTML-Metadata`: STRUCT<Links: ARRAY<STRUCT<url: STRING>>, " +
      "Head: STRUCT<`Meta-Refresh`: STRING>>, " +
      "`Extraction-Metadata`: STRUCT<outcome: STRING>>>"
    val parsed = back
      .select(col("url"), from_json(col("payload"),
        org.apache.spark.sql.types.StructType.fromDDL(ddl)).as("j"))
      .select(col("url"),
        col("j.Envelope.Payload-Metadata.Extraction-Metadata.outcome")
          .as("outcome"),
        coalesce(size(
          col("j.Envelope.Payload-Metadata.HTML-Metadata.Links")), lit(0))
          .as("n_links"),
        col("j.Envelope.Payload-Metadata.HTML-Metadata.Head.Meta-Refresh")
          .as("refresh"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getString(3)))).toMap
    val want = ex.select(col("url"), col("outcome"),
        size(col("links")).as("n"), col("redirect"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2),
          if (r.getString(3) == "") null else r.getString(3)))).toMap
    assert(parsed == want,
      "WAT envelope metadata does not match the extraction output")
    assert(want.values.exists(_._2 > 0), "fixture has no linked pages")
    assert(want.values.exists(_._3 != null), "fixture has no redirects")
  }

  test("warc-family sinks: one fixed row keeps its pinned bytes") {
    import graft.model.{ExtractResult, Link, MetaTag}
    import graft.spark.{WatSink, WetSink}
    import spark.implicits._
    // every WET/WAT header, payload and framing byte of one hand-built
    // row, plain and gzip-membered; the other sink tests only compare two
    // runs of the same code, so they cannot see the format itself drift.
    // The .gz pins also fix the platform zlib's deflate output.
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2026-02-03T04:05:06.123456Z"))
    val ex = Seq(ExtractResult("https://pin.test/p?q=1", ts,
      "pinned body \u2014 \u00fcn\u00efcod\u00e9\r\nWARC/1.0 inside", Nil,
      "ok", "graft-html/0.2", "html", "utf-8", 12, 3, truncated = false,
      lang = "eng",
      links = Seq(Link(0, "/next", "https://pin.test/next", chrome = true,
        "next \"page\"")),
      canonical = "https://pin.test/p", ldjson = Seq("{\"@type\":\"Thing\"}"),
      metas = Seq(MetaTag("og:title", "Pin")),
      feeds = Seq("https://pin.test/feed"), title = "Pin")).toDS().toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft_pin").toString
    def sha256(sub: String, file: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, sub, file)))
        .map(b => f"${b & 0xff}%02x").mkString
    val got = Seq(false, true).flatMap { gz =>
      val sfx = if (gz) ".gz" else ""
      WetSink.writeWet(ex, s"$dir/wet$gz", files = 1, gzip = gz)
      WatSink.writeWat(ex, s"$dir/wat$gz", files = 1, gzip = gz)
      Seq(s"wet$sfx" -> sha256(s"wet$gz", s"part-00000.warc.wet$sfx"),
        s"wat$sfx" -> sha256(s"wat$gz", s"part-00000.warc.wat$sfx"))
    }.toMap
    assert(got == Map(
      "wet" -> "f4487f44e222b015f312231a1746ac0247e200157ca7ce554162b96ca0cd340c",
      "wet.gz" -> "4b7a19d3e4a5ed84217ec6cca3fe13773b5a9f8b168707b6345e16a405bbe50b",
      "wat" -> "f9e5cd2862f4c22c9c3fe6f079354e9e85d746b21da376370e59a371d28b92f3",
      "wat.gz" -> "ff7d2cf879db439d7efbf7d7be777ba42484037abd81f66cdc576c36621a3c84"),
      s"WARC-family bytes drifted: $got")
  }

  test("bucket layout: writer and table IO place every url in one bucket") {
    // the checkpointed writer and the table IO must agree on bucket
    // membership (Jobs.bucketCol) — a url in bucket=K of one output
    // and bucket=J of the other would split the table's layout
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, 60), 4)
    val out = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    CheckpointedWriter.run(extracted, s"$out/ckpt", buckets = 4)
    new graft.spark.ParquetTableIO(out).writeExtracted(
      extracted.toDF().withColumn("spans", to_json(col("spans"))),
      "table", buckets = 4)
    def layout(path: String): Map[String, String] =
      spark.read.parquet(path)
        .select(col("url"), input_file_name().as("f")).collect()
        .map(r => r.getString(0) ->
          "bucket=\\d+".r.findFirstIn(r.getString(1)).get).toMap
    val ckpt = layout(CheckpointedWriter.dataDir(s"$out/ckpt"))
    val table = layout(s"$out/table")
    assert(ckpt.size == 60 && ckpt.values.toSet.size == 4)
    assert(table == ckpt, "bucket membership differs between the writers")
  }

  test("bucket = partition: extract's partition k is bucket k, one file each") {
    val pages = Jobs.syntheticPages(spark, 120)
    Seq(4, 7).foreach { b =>
      val extracted = Jobs.extract(pages, b)
      val ids = extracted.toDF()
        .select(spark_partition_id(), Jobs.bucketCol(b)).collect()
      assert(ids.length == 120)
      assert(ids.forall(r => r.getInt(0) == r.getInt(1)),
        s"B=$b: partition id differs from bucket")
      val out = java.nio.file.Files.createTempDirectory("graft_part").toString
      CheckpointedWriter.run(extracted, out, b)
      val dirs = new java.io.File(CheckpointedWriter.dataDir(out))
        .listFiles().filter(_.isDirectory)
      assert(dirs.nonEmpty)
      dirs.foreach { d =>
        val parts = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(parts.length == 1 && parts(0).endsWith(".zstd.parquet"),
          s"B=$b ${d.getName}: ${parts.toSeq}")
      }
      // the read-back's `bucket` is the dir name each url sits in
      val back = CheckpointedWriter.readBack(spark, out)
        .select(col("bucket"), Jobs.bucketCol(b)).collect()
      assert(back.length == 120)
      assert(back.forall(r => r.getInt(0) == r.getInt(1)),
        s"B=$b: a url sits outside its bucketCol dir")
    }
  }

  test("subset filter: open-ended `end` selects the same rows as resolved") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (0L until 300L).toDF("doc_id")
    val spec = "1-50,111,200-end"
    val resolved = df.filter(graft.spark.Jobs.subsetFilter(
        col("doc_id"), spec, 300, firstPosValue = 0L))
      .collect().map(_.getLong(0)).toSet
    val open = df.filter(graft.spark.Jobs.subsetFilterOpenEnd(
        col("doc_id"), spec, firstPosValue = 0L))
      .collect().map(_.getLong(0)).toSet
    assert(open == resolved) // no driver-side count needed for `end`
    assert(open.contains(299L) && !open.contains(150L))
  }

  test("skew: salted key spreads the hot host across partitions") {
    import spark.implicits._
    val pages = Jobs.syntheticPages(spark, 400)
    // ~70% of rows share one host; Jobs.extract's url-hash partitions
    // each hold far less than the hot-host share
    val parts = Jobs.extract(pages, 8)
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.sum == 400)
    assert(parts.max < 400 * 7 / 10, s"skewed partition sizes: ${parts.toSeq}")
  }

  test("observe: in-flight metrics reconcile with the output") {
    graft.spark.MetricsSink.install(spark)
    val ds = graft.spark.MetricsSink.observed(
      Jobs.extract(Jobs.syntheticPages(spark, 120), 8))
    // version captured BEFORE the action: awaitLast then provably
    // returns THIS query's row, not a stale or missing one
    val v0 = graft.spark.MetricsSink.version()
    val total = ds.count()
    val m = graft.spark.MetricsSink.awaitLast(sinceVersion = v0).get
    assert(m.docs == total)
    assert(m.failures + m.skips + m.rejects <= m.docs)
    assert(m.chars > 0)
  }
}

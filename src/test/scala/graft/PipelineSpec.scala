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

  /** `body`'s result and the stage name of each Spark job it started
    * (`parquet at SparkEntry.scala:99`, `collect at …`), with AQE on in
    * `s` (so each exchange runs as its own job). A sentinel job run
    * afterwards flushes the ordered listener bus, so every earlier start
    * has arrived before the names are read. */
  def jobsDuring[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqeWas = s.conf.getOption(aqeKey)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "sentinel")
          flushed.countDown()
        else jobs.add(e.stageInfos.map(_.name).headOption.getOrElse(""))
    }
    s.conf.set(aqeKey, "true")
    s.sparkContext.addSparkListener(listener)
    try {
      val out = body
      s.sparkContext.setJobDescription("sentinel")
      s.sparkContext.parallelize(Seq(1), 1).count()
      s.sparkContext.setJobDescription(null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally {
      s.sparkContext.removeSparkListener(listener)
      aqeWas.fold(s.conf.unset(aqeKey))(s.conf.set(aqeKey, _))
    }
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

  test("outcome vocabulary: the pattern accepts Outcome.all and error:X only") {
    import graft.model.Outcome
    import graft.spark.OutputValidator.outcomePattern
    val accepts = (s: String) => s.matches(outcomePattern)
    assert(Outcome.all.distinct.size == Outcome.all.size)
    assert(Outcome.all.forall(accepts), Outcome.all.filterNot(accepts))
    assert(Seq(Outcome.error("IOException"), Outcome.error("pdf_no_pages"),
      Outcome.error("Foo$Bar.Baz")).forall(accepts))
    val nearMisses = Seq("skipped:redirects", "skipped:", "rejected:",
      "rejected:prior", "ok ", "OK", "ok|error", "error", "error:",
      "error:two words", "stripped:prior_textX", "xok", "")
    assert(nearMisses.filter(accepts).isEmpty, nearMisses.filter(accepts))
  }

  test("determinism: different partition counts produce identical tables") {
    val a = Jobs.extract(Jobs.syntheticPages(spark, 120, parallelism = 2), 3)
      .collect().sortBy(_.url).map(r => (r.url, r.text, r.outcome)).toSeq
    val b = Jobs.extract(Jobs.syntheticPages(spark, 120, parallelism = 8), 16)
      .collect().sortBy(_.url).map(r => (r.url, r.text, r.outcome)).toSeq
    assert(a == b)
  }

  test("entry: the flagship query breaks down every verify-corpus row") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("outcome", "engine", "n", "chars"))
    assert(df.agg(sum("n")).head().getLong(0) == SparkEntry.verifyN)
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
    // the structured columns. Every golden row has a unique key (url
    // plus idx, or url plus grid cell), so equal counts and no missing
    // row mean equal tables
    def frozen(name: String, live: Seq[Seq[Any]]): Unit = {
      val want = spark.read.parquet(s"src/test/resources/golden/$name")
      val cols = want.columns.toSeq
      val rows = want.collect().map(_.toSeq).toSeq
      assert(live.length == rows.length, s"golden $name row count drift")
      val missing = rows.toSet -- live
      assert(missing.isEmpty, s"golden $name drift ($cols): ${missing.take(3)}")
    }
    frozen("links", live.toSeq.flatMap(r => r.links.map(l =>
      Seq(r.url, l.idx, l.raw, l.resolved, l.chrome, l.text))))
    frozen("headings", live.toSeq.flatMap(r => r.headings.zipWithIndex.map {
      case (h, i) => Seq(r.url, i, h.level, h.text) }))
    frozen("cells", live.toSeq.flatMap(r => r.cells.map(c =>
      Seq(r.url, c.tbl, c.row, c.col, c.header, c.text))))
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
    CheckpointedWriter.run(Jobs.extract(Jobs.syntheticPages(spark, 60), 4),
      out, 4)
    val root = new java.io.File(CheckpointedWriter.dataDir(out))
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
    assert(CheckpointedWriter.readBack(spark, out).count() == 60)
  }

  test("metrics: per-bucket counts reconcile with the extracted table") {
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, 100), 8)
    val out = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    CheckpointedWriter.run(extracted, out, buckets = 4)
    val m = spark.read.parquet(CheckpointedWriter.metricsDir(out))
    assert(m.select("url_hash_bucket").collect().map(_.getInt(0)).sorted
      .toSeq == (0 until 4), "expected one metrics row per bucket")
    val agg = m.agg(sum("docs"), sum("bytes"), sum("failures")).collect()(0)
    assert(agg.getLong(0) == 100)
    val direct = extracted.agg(sum(length(col("text"))),
      sum(when(col("outcome").startsWith("error"), 1L).otherwise(0L)))
      .collect()(0)
    assert(agg.getLong(1) == direct.getLong(0))
    assert(agg.getLong(2) == direct.getLong(1))
    // the written table carries the FIXTURES.md `metrics` schema
    import org.apache.spark.sql.types._
    assert(m.schema.fields.map(f => f.name -> f.dataType).toSet == Set(
      "partition_id" -> IntegerType, "url_hash_bucket" -> IntegerType,
      "docs" -> LongType, "bytes" -> LongType, "failures" -> LongType,
      "wall_ms" -> LongType, "attempt" -> IntegerType,
      "committed_ts" -> TimestampType))
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
    // the reference grammar, `end` resolved to 300, shifted to 0-based
    val resolved = graft.extract.Ranges.parse(spec, 300).map(_ - 1L)
    val open = df.filter(graft.spark.Jobs.subsetFilterOpenEnd(
        col("doc_id"), spec, firstPosValue = 0L))
      .collect().map(_.getLong(0)).toSet
    assert(open == resolved) // no driver-side count needed for `end`
    assert(open.contains(299L) && !open.contains(150L))
    // a bare `end` names the last row, which an open filter cannot know:
    // it fails loudly instead of selecting nothing
    Seq("1,end", "end-end", " end -300").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        graft.spark.Jobs.subsetFilterOpenEnd(col("doc_id"), bad))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
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
}

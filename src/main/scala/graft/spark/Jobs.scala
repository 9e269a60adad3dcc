package graft.spark

import graft.model.{ExtractConfig, ExtractResult, Outcome, PageRow}
import graft.engine.Extractor
import graft.extract.Ranges
import graft.gen.SyntheticCorpus
import org.apache.spark.sql.Column
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Spark lifecycle of the extraction pipeline (SURVEY.md §3.1 "Spark shape
  * of the same lifecycle"): read → triage/validate → one fused
  * mapPartitions kernel stage → url-hash repartition (partition = output
  * bucket) → metrics + idempotent commit. That is one batch lifecycle:
  * [[Jobs.extract]] → [[CheckpointedWriter.run]] →
  * [[CheckpointedWriter.readBack]].
  *
  * Design notes for 100 TB scale:
  *  - The kernel is a NARROW map: no shuffle is required for extraction
  *    itself. The single repartition exists to (a) decouple task count
  *    from input file layout, (b) break up skewed hosts (70% of rows
  *    can share one host in CC crawls) and (c) hand the writer one task
  *    per bucket; its key is the URL hash — urls are unique, so the key
  *    is uniform by construction and host skew never enters it.
  *  - All per-row stages are fused in ONE mapPartitions (reference analog:
  *    src/ocrmypdf/_pipelines/_common.py:446-476 runs preview→rasterize→
  *    preprocess→ocr back-to-back per page inside one task). Never one
  *    Spark stage per pipeline stage — that would shuffle the binary
  *    column repeatedly.
  *  - Per-partition engine state is reused across rows (reference analog:
  *    per-worker reopened file handles, src/ocrmypdf/pdfinfo/_worker.py:
  *    31-56; font-selection memo cache, font/multi_font_manager.py:182-188).
  */
object Jobs {

  /** Cluster-scale session settings (documented defaults for a real
    * 1000-executor run; local mode only needs shuffle.partitions + AQE).
    * Partition sizing: with ~3 KB average page rows, 256 MB input splits
    * hold ~85k docs ≈ 15-25 s of kernel time per task — large enough to
    * amortize scheduling, small enough for retry granularity and
    * speculation. Shuffle partitions ≥ 2-4× total cores and ≥ the output
    * bucket count so AQE can only coalesce, never starve. */
  val scaleConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (256L << 20).toString,
    "spark.speculation" -> "true", // infra stragglers; data stragglers are
    // handled IN the kernel (bounded per-row budgets → outcome markers)
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")

  /** Distributed deterministic pages source: row i is a pure function of
    * (seed, i), so any executor can generate any slice. */
  def syntheticPages(spark: SparkSession, n: Long,
      seed: Long = SyntheticCorpus.defaultSeed,
      parallelism: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    val p = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, p).mapPartitions { it =>
      it.map(i => SyntheticCorpus.row(i, seed))
    }
  }

  /** The url-hash bucket key — THE single definition: [[CheckpointedWriter]]
    * stamps it as the `bucket` column that names the bucket dirs and
    * keys the metrics rows. It is exactly the partition id
    * `HashPartitioning(url, buckets)` computes (murmur3 seed 42, pmod
    * n), so after `repartition(buckets, col("url"))` partition k holds
    * exactly bucket k. Changing it moves every url's bucket on disk. */
  def bucketCol(buckets: Int) =
    pmod(hash(col("url")), lit(buckets))

  /** The extraction pipeline: narrow fused kernel first, THEN the
    * url-hash repartition on the *output*. Partition k of the result
    * holds exactly the rows whose [[bucketCol]]`(partitions)` is k.
    *
    * Ordering rationale (100 TB): the kernel is a narrow map — input
    * splits already balance it, so shuffling raw `html` bytes before
    * extraction moves the largest column for nothing. The explicit
    * repartition exists to give the downstream bucketed write / per-url
    * merge a uniform, skew-free layout (north rule), and extracted text
    * is 10-100× smaller than raw html (a 100 KB page body can extract to
    * 1 KB of main text), so the shuffle goes after the map. For inputs
    * whose *splits* are skewed (e.g. a pathological file layout),
    * repartition the pages on url before extracting. */
  def extract(pages: Dataset[PageRow], partitions: Int,
      cfg: ExtractConfig = ExtractConfig()): Dataset[ExtractResult] = {
    // partition id = pmod(murmur3(url), n) = bucketCol(n), row for row
    extractNarrow(pages, cfg).repartition(partitions, col("url"))
  }

  /** Extraction without the explicit repartition — used when the upstream
    * layout is already balanced (e.g. bucketed Iceberg scan). Narrow, no
    * shuffle at all. */
  def extractNarrow(pages: Dataset[PageRow],
      cfg: ExtractConfig = ExtractConfig()): Dataset[ExtractResult] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // cfg is a small immutable case class captured by the task closure —
    // the broadcast-options pattern (reference: OcrOptions marshalled to
    // workers, src/ocrmypdf/_options.py:485-569)
    pages.mapPartitions { it => it.map(Extractor.extract(_, cfg)) }
  }

  /** `--pages`-style subset selection as a PUSHED-DOWN row filter
    * (reference: src/ocrmypdf/_options.py:72-139 range grammar;
    * _pipeline.py:349-350 gates all heavy work on membership). The spec's
    * intervals become an OR-of-BETWEENs predicate on a 1-BASED position
    * column, which Catalyst pushes into the parquet scan (shows up as
    * `PushedFilters: [Or(And(GreaterThanOrEqual...` — row groups outside
    * every interval are skipped without decoding).
    *
    * The `end` alias stays OPEN-ENDED (posCol >= lo) instead of being
    * resolved against a row count — at warehouse scale the total is
    * table metadata you should not have to fetch (let alone count()),
    * and `GreaterThanOrEqual` pushes into the parquet scan identically.
    * A fragment whose LOWER bound is `end` ("end", "end-end") names the
    * last position itself, which an open-ended filter cannot know, so it
    * fails instead of silently selecting nothing. */
  def subsetFilterOpenEnd(posCol: Column, spec: String,
      firstPosValue: Long = 1L): Column = {
    require(spec == null ||
      !spec.split(',').exists(_.split('-').headOption.exists(_.trim == "end")),
      s"page spec '$spec': a fragment starting at `end` needs the row " +
        "count, which an open-ended filter does not know")
    Ranges.intervals(spec, Int.MaxValue)
      .map { case (lo, hi) =>
        // spec position p (1-based) lives at column value p - 1 + first
        val l = lo - 1L + firstPosValue
        if (hi == Int.MaxValue) posCol >= lit(l)
        else {
          val h = hi - 1L + firstPosValue
          if (l == h) posCol === lit(l)
          else posCol >= lit(l) && posCol <= lit(h)
        }
      }
      .reduceOption(_ || _)
      .getOrElse(lit(false))
  }

  /** Subset selection on the synthetic source: selection happens at
    * GENERATION (the partition-pruning analog — out-of-range rows are
    * never built, like the reference's stub PageInfo for out-of-range
    * pages, src/ocrmypdf/pdfinfo/info.py:160-213). */
  def syntheticPagesSubset(spark: SparkSession, n: Long, spec: String,
      seed: Long = SyntheticCorpus.defaultSeed,
      parallelism: Int = 0): Dataset[PageRow] = {
    import spark.implicits._
    require(n <= Int.MaxValue,
      s"page-spec positions are Int-domain; got n=$n") // loud, not a silent
    // wrong subset from a truncated cast
    val ivs = Ranges.intervals(spec, n.toInt)
    val p = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    // generate only in-range indices (1-based spec → 0-based row index),
    // DISTRIBUTED per interval: a driver-side flatten of "1-end" over a
    // large n would materialize every index on the driver
    ivs.map { case (lo, hi) =>
      spark.range((lo - 1).toLong, hi.toLong, 1, math.max(1, p))
    }.reduceOption(_ union _)
      .getOrElse(spark.range(0))
      .mapPartitions(it => it.map(i => SyntheticCorpus.row(i, seed)))
  }

  /** The path's OWN filesystem — FileSystem.get(conf) resolves the
    * default FS and throws "Wrong FS" for any other scheme (s3a/hdfs
    * output with a file:// default — the warehouse swap-in scenario). */
  private[spark] def fsFor(path: String,
      spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
}

/** Idempotent, resumable bucket-committed writer — the sandbox stand-in
  * for an Iceberg snapshot commit (SURVEY.md §7.1: no Iceberg jars ship
  * with this image) and the pipeline's one output path.
  *
  * Modeled on the reference's checkpoint/resume surface (reference:
  * src/ocrmypdf/_pipelines/pdf_to_hocr.py:87-110 persists per-page JSON
  * checkpoints; hocr_to_ocr_pdf.py:106-127 reloads them and skips
  * completed pages). Here the unit is a url-hash bucket:
  *
  *   out/data/bucket=K/ (parquet)  — bucket payload (overwritten whole)
  *   out/metrics/url_hash_bucket=K — the bucket's FIXTURES.md `metrics`
  *                                   row (docs, bytes, failures)
  *   out/_commits/K                — commit marker, written AFTER the
  *                                   bucket payload and metrics are
  *                                   durably on disk
  *
  * A rerun processes only unmarked buckets, deleting any partial dir
  * first — so a crash between payload and marker re-does exactly that
  * bucket and the final table never contains duplicates.
  *
  * Given `Jobs.extract(pages, buckets)`, whose partition k holds exactly
  * bucket k, the write runs one task per bucket and leaves one ZSTD part
  * file in each non-empty `bucket=K` dir. Bucket membership is
  * `Jobs.bucketCol`; do not resume an output written under another
  * definition of it.
  */
object CheckpointedWriter {

  def commitDir(out: String) = s"$out/_commits"
  def dataDir(out: String) = s"$out/data"
  def metricsDir(out: String) = s"$out/metrics"

  def committedBuckets(spark: SparkSession, out: String): Set[Int] = {
    val fs = Jobs.fsFor(out, spark)
    val p = new org.apache.hadoop.fs.Path(commitDir(out))
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).map(_.getPath.getName).flatMap(n =>
      scala.util.Try(n.toInt).toOption).toSet
  }

  /** Claim the next attempt number for `out`, atomically: EXCLUSIVE
    * create (`overwrite = false`) of `_attempts/<n>` is the one
    * filesystem primitive that is atomic on both HDFS and the local FS
    * (a rename onto an existing path silently REPLACES it on POSIX
    * local, so rename is not a safe claim there). Two racing drivers
    * both listing n attempts race to create n+1; the loser's create
    * throws and it retries at n+2 — distinct attempt numbers, always. */
  def claimAttempt(fs: org.apache.hadoop.fs.FileSystem, out: String): Int = {
    val m = new org.apache.hadoop.fs.Path(s"$out/_attempts")
    fs.mkdirs(m)
    // Hadoop's RawLocalFileSystem implements overwrite=false as a
    // non-atomic exists-check-then-create; java.io.File.createNewFile is
    // O_CREAT|O_EXCL — use it when the claim dir is on the local FS so
    // the exclusivity guarantee holds there too
    val local = "file" == fs.getUri.getScheme
    def tryClaim(p: org.apache.hadoop.fs.Path): Boolean =
      if (local) new java.io.File(p.toUri.getPath).createNewFile()
      else
        try { fs.create(p, false).close(); true }
        catch {
          // ONLY an existing marker means a lost race (some FS impls
          // signal it as a plain IOException, so discriminate by
          // existence); any other create failure — quota, permissions,
          // connectivity — must surface, or the claim loop would retry
          // forever against a broken filesystem
          case e: java.io.IOException =>
            if (fs.exists(p)) false else throw e
        }
    var n = fs.listStatus(m).length + 1
    while (!tryClaim(new org.apache.hadoop.fs.Path(m, n.toString)))
      n += 1 // lost the race; next slot
    n
  }

  /** Write `extracted` for all not-yet-committed buckets. Returns the
    * number of buckets written this run. `failAfterBuckets` injects a
    * crash for the resume test (reference analog: fault-injection plugins,
    * tests/plugins/tesseract_crash.py). */
  def run(extracted: Dataset[ExtractResult], out: String, buckets: Int,
      failAfterBuckets: Int = -1): Int = {
    val spark = extracted.sparkSession
    val fs = Jobs.fsFor(out, spark)
    val done = committedBuckets(spark, out)
    val todo = (0 until buckets).filterNot(done.contains)
    if (todo.isEmpty) return 0
    val withBucket = extracted.toDF()
      .withColumn("bucket", Jobs.bucketCol(buckets))
      .withColumn("spans", to_json(col("spans"))) // stable scalar encoding
    // one write job for all pending buckets, laid out by bucket dir; the
    // metrics aggregation below reads the STAGED BUCKET FILES back (the
    // durable artifact that exists at that point) — no persist(): an
    // executor lost after the write must not re-run the whole kernel
    // just to count docs/bytes for a tiny aggregate
    val pending = withBucket.filter(col("bucket").isin(todo: _*))
    locally {
      // clear partial dirs from a previous crashed attempt
      todo.foreach { b =>
        val d = new org.apache.hadoop.fs.Path(s"${dataDir(out)}/bucket=$b")
        if (fs.exists(d)) fs.delete(d, true)
      }
      val t0 = System.nanoTime()
      // `bucket=K` dirs, ZSTD (the text-heavy output's storage contract,
      // whatever the session codec); Append adds the freshly cleared
      // pending dirs next to the committed ones
      pending.write.partitionBy("bucket")
        .option("compression", "zstd")
        .mode(SaveMode.Append)
        .parquet(dataDir(out))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // per-bucket lineage metrics (FIXTURES.md `metrics` schema), written
      // BEFORE the commit markers so a marker implies metrics exist; attempt
      // number = how many runs have touched this output.
      val attempt = claimAttempt(fs, out)
      // metrics are partitioned by bucket and dynamically OVERWRITTEN: a
      // resume replaces the rows of exactly the buckets it re-did, so
      // readers see one authoritative (latest-attempt) row per bucket —
      // no duplicate-counting across crashed attempts. The read-back
      // carries the writer's schema explicitly: a zero-row pending set on
      // a fresh output dir leaves dataDir with only _SUCCESS, and
      // schema INFERENCE over that throws — the explicit schema makes the
      // empty extraction a (correct) empty metrics write instead. Per
      // bucket: docs, bytes and failures (`Outcome.isFailure`),
      // then the lineage columns.
      spark.read.schema(withBucket.schema).parquet(dataDir(out))
        .filter(col("bucket").isin(todo: _*))
        .groupBy(col("bucket").as("url_hash_bucket"))
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text"))).as("bytes"),
          sum(when(Outcome.isFailure(col("outcome")), 1L).otherwise(0L))
            .as("failures"))
        .withColumn("partition_id", col("url_hash_bucket"))
        .withColumn("wall_ms", lit(wallMs))
        .withColumn("attempt", lit(attempt))
        .withColumn("committed_ts", current_timestamp())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("url_hash_bucket")
        .parquet(metricsDir(out))
    }
    fs.mkdirs(new org.apache.hadoop.fs.Path(commitDir(out)))
    var committed = 0
    todo.foreach { b =>
      if (failAfterBuckets >= 0 && committed >= failAfterBuckets)
        throw new RuntimeException(s"injected failure after $committed commits")
      // bucket may be legitimately empty — mark unconditionally
      fs.create(new org.apache.hadoop.fs.Path(s"${commitDir(out)}/$b"), true)
        .close()
      committed += 1
    }
    committed
  }

  def readBack(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(dataDir(out))
}

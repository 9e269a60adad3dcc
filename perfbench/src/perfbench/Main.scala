package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{ExtractResult, PageRow}
import graft.ops.Dedup
import graft.spark.{CheckpointedWriter, Jobs, ParquetTableIO}
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The repository benchmark. One thread runs one job at a time (a closed
  * loop) on `local[cores]`, in a session built the way the production
  * pipeline builds it (`Jobs.scaleConfs`). Set-up materializes the
  * seeded input as a parquet table, computes the references the
  * correctness gate needs and runs the warm-up passes; the loop then
  * repeats the workload's job until `--seconds` have passed and checks
  * every pass. The last stdout line is the result JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --config workloads.json --bench BENCHMARK.json --work DIR
  * Metric names and units come from BENCHMARK.json; a per-layer metric
  * of a layer the workload does not run reads 0. */
object Main {

  final case class Pass(wallNs: Long, cpuNs: Long, docs: Long, failed: Long,
      traced: Boolean, layers: Map[String, Double])

  /** A workload: `setup` builds its input (called `setup_reps` times; the
    * last table is the one measured), `prepare` computes the references
    * the correctness gate needs, `pass` runs and checks one job. */
  trait Workload {
    def docs: Long
    def setup(): Unit
    def prepare(): Unit
    def pass(trace: Trace): (Long, Map[String, Double]) // (failed docs, layer metrics)
    def traceOnly(): Map[String, Double] = Map.empty
  }

  /** Rows per class of the seeded sample the gate compares with the
    * scalar kernel, and of the sample the kernel phases are timed on. */
  val GateSamplePerClass = 3
  val PhaseSamplePerClass = 12

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val cfg = new ObjectMapper().readTree(new java.io.File(opts("config")))
    val bench = new ObjectMapper().readTree(new java.io.File(opts("bench")))
    def units(list: String): Seq[(String, String)] = bench.get(list).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    val wcfg = cfg.get("workloads").get(workload)
    require(wcfg != null, s"unknown workload $workload")

    val cores = math.min(cfg.get("cores").asInt, Runtime.getRuntime.availableProcessors)
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    Jobs.scaleConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace
    if (traced) spark.sparkContext.addSparkListener(trace.listener)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = workload match {
      case "crawl_lifecycle" | "crawl_extract" | "oversize_mix" =>
        new Crawl(spark, workload, cfg, wcfg, seed, work)
      case "dedup_corpus" => new DedupCorpus(spark, wcfg, seed, work)
    }
    val reps = cfg.get("setup_reps").asInt
    val setupTimes = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    val t1 = System.nanoTime()
    w.prepare()
    // warm-up: the first passes run 2-3x slower while the JIT compiles;
    // they are checked like the timed passes. heap_peak_mb is the working
    // set of the last one (its forced collections would slow a timed pass).
    val warmups = wcfg.get("warmup_passes").asInt
    require(warmups >= 1, "the heap probe needs a warm-up pass")
    val warmFailed = (1 until warmups).map(_ => w.pass(trace)._1).sum
    val ((probeFailed, _), heapMb) = HeapProbe.peakDuring(w.pass(trace))
    val prepareS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + median(setupTimes) + prepareS

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = ArrayBuffer.empty[Pass]
    // at least `min_passes`: a run that fits one slow pass where another fits
    // two faster ones would split the runs into two groups
    val minPasses = wcfg.get("min_passes").asInt
    val loop0 = System.nanoTime()
    while (passes.length < minPasses || (System.nanoTime() - loop0) / 1e9 < seconds ||
        (traced && passes.count(_.traced) < 2)) {
      // traced runs alternate untraced and traced passes: the difference
      // is the tracing overhead
      val on = traced && passes.length % 2 == 1
      trace.reset()
      trace.enabled = on
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val (failed, layers) = trace.span("pass")(w.pass(trace))
      val wall = System.nanoTime() - t0
      val cpu = os.getProcessCpuTime - c0
      passes += Pass(wall, cpu, w.docs, failed, on,
        if (on) { awaitListener(trace); layers ++ spanLayers(trace, w.docs) } else Map.empty)
      trace.enabled = false
    }
    val attempted = passes.map(_.docs).sum + warmups * w.docs
    val failed = passes.map(_.failed).sum + warmFailed + probeFailed
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val e2e = Map(
          "docs_per_s" -> median(passes.map(p => p.docs / (p.wallNs / 1e9))),
          "cpu_s_per_kdoc" -> median(passes.map(p => p.cpuNs / 1e9 / p.docs * 1000)),
          "heap_peak_mb" -> heapMb,
          "setup_s" -> setupS)
        units("end_to_end").map { case (k, u) => (k, e2e(k), u) }
      } else {
        val on = passes.filter(_.traced)
        val off = passes.filterNot(_.traced)
        val layers = on.flatMap(_.layers.keys).distinct.map(k =>
          k -> median(on.map(_.layers.getOrElse(k, 0.0)))).toMap ++ w.traceOnly()
        val overhead = (median(on.map(_.wallNs.toDouble)) /
          median(off.map(_.wallNs.toDouble)) - 1) * 100
        units("per_layer").map { case (k, unit) =>
          val v = k match {
            case "trace.overhead_pct" => overhead
            case "failed_ratio" => failed.toDouble / attempted
            case _ => layers.getOrElse(k, 0.0)
          }
          (k, v, unit)
        }
      }
    if (traced) {
      val dir = new java.io.File(opts.getOrElse("traces", s"$work/traces"))
      dir.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(dir, s"$workload-$seed.json").toPath,
        trace.toJson)
    }
    spark.stop()

    val correct = failed == 0
    println(f"perfbench $workload seed=$seed passes=${passes.length} " +
      f"docs/pass=${w.docs} failed_ratio=${failed.toDouble / attempted}%.6f correct=$correct")
    println(f"  set-up: session $sessionS%.2f s, input ${setupTimes.map(t => f"$t%.2f").mkString("/")} s, " +
      f"references and warm-up $prepareS%.2f s; pass walls " +
      passes.map(p => f"${p.wallNs / 1e9}%.2f").mkString("/") + " s")
    metrics.foreach { case (k, v, u) => println(f"  $k%-36s $v%14.4f $u") }
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Listener events arrive on Spark's bus after the job returns; wait
    * until every submitted stage has reported completion. */
  def awaitListener(t: Trace): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (t.stages.values.asScala.exists(_.completeMs == 0) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Layer metrics every workload shares. */
  def spanLayers(t: Trace, docs: Long): Map[String, Double] = {
    val all = t.stages.values.asScala.toSeq
    Map(
      "spark.gc_s" -> all.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes_per_doc" -> all.map(_.shuffleWriteBytes).sum.toDouble / docs,
      "spark.jobs_per_run" -> t.jobs.get.toDouble)
  }

  /** Spark-side kernel metrics over the stages that scan the input. */
  def kernelLayers(t: Trace, ss: Seq[Stage], docs: Long): Map[String, Double] = {
    val tasks = ss.flatMap(_.taskMs).map(_.toDouble)
    Map(
      "spark.kernel_stage_s" -> t.wallS(ss),
      "spark.kernel_task_skew" -> (if (tasks.isEmpty) 0.0 else tasks.max / math.max(1.0, median(tasks))),
      "spark.input_bytes_per_doc" -> ss.map(_.inputBytes).sum.toDouble / docs)
  }

  /** Order-insensitive digest of every column of `df`: row count, two
    * independent url-hash sums (equal to the input's iff the output's url
    * multiset equals the input's, given equal counts), and a hash over
    * all columns. Reading every column keeps column pruning from
    * skipping any of the kernel's output encoding. */
  def digestCols(df: DataFrame, urlCol: Option[String]): Seq[org.apache.spark.sql.Column] = {
    val all = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val m31 = lit(1L << 31)
    Seq(count(lit(1)).as("n"), sum(pmod(all, m31)).as("sum_all"), bit_xor(all).as("xor_all")) ++
      urlCol.toSeq.flatMap(u => Seq(
        sum(pmod(xxhash64(col(u)), m31)).as("url_a"),
        sum(pmod(hash(col(u)).cast("long"), m31)).as("url_b")))
  }
}

/** crawl_lifecycle, crawl_extract and oversize_mix: the pages table
  * through the extraction kernel. */
final class Crawl(spark: SparkSession, name: String, cfg: JsonNode, w: JsonNode,
    seed: Long, work: String) extends Main.Workload {
  import Main._
  import spark.implicits._

  val docs: Long = w.get("docs").asLong
  private val n = docs.toInt
  private val root = s"$work/tables"
  private val io = new ParquetTableIO(root)
  private val uniform = name == "oversize_mix"
  private val weights: Map[String, Double] =
    if (uniform) Inputs.residueClass.groupBy(identity).map { case (c, v) => c -> v.length / 26.0 }
    else cfg.get("crawl_class_weights").fields().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
  private val idx: Array[Long] =
    if (uniform) Array.tabulate(n)(_.toLong) else Inputs.crawlIndices(n, weights, seed)
  private val buckets = if (w.has("buckets")) w.get("buckets").asInt else 0

  private var sample: Map[String, String] = Map.empty // url -> all columns as JSON
  private var fields: Seq[String] = Nil
  private var expect: Row = _ // the warm-up pass digest
  private var inputUrls: (Long, Long, Long) = (0L, 0L, 0L)
  private var iter = 0

  def setup(): Unit = {
    deleteRec(new java.io.File(root))
    if (uniform) Inputs.writeUniform(spark, n, seed, s"$root/pages")
    else Inputs.writeCrawl(spark, idx, seed, s"$root/pages")
  }

  def prepare(): Unit = {
    val pages = io.readPages(spark, "pages")
    // urls are unique by construction (distinct row indices)
    val in = pages.agg(count(lit(1)),
      sum(pmod(xxhash64(col("url")), lit(1L << 31))),
      sum(pmod(hash(col("url")).cast("long"), lit(1L << 31)))).head()
    require(in.getLong(0) == docs, s"input table: $in")
    inputUrls = (in.getLong(0), in.getLong(1), in.getLong(2))
    // the scalar kernel's rows for the sample, encoded the way the
    // output is: ExtractResult's columns, spans as JSON after the writer
    val picks = Inputs.stratified(idx, GateSamplePerClass, seed)
    val ref = spark.createDataset(Inputs.reference(picks.values.flatten, seed).values.toSeq)(
      Encoders.product[ExtractResult]).toDF()
    val enc = if (name == "crawl_lifecycle") ref.withColumn("spans", to_json(col("spans"))) else ref
    fields = enc.columns.toSeq
    sample = enc.select(col("url"), asJson).collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Every ExtractResult column of a row, as one JSON string. */
  private def asJson = to_json(struct(fields.map(col): _*))

  /** Digest + outcome counts + the sample rows, in one job. */
  private def consume(df: DataFrame): Row = {
    val cols = digestCols(df, Some("url")) ++ Seq(
      sum(when(col("outcome") === "ok", 1L).otherwise(0L)).as("ok"),
      sum(when(col("outcome").startsWith("rejected"), 1L).otherwise(0L)).as("rejected"),
      sum(when(col("outcome").startsWith("error"), 1L).otherwise(0L)).as("errors"),
      sum(length(col("text"))).as("text_chars"),
      collect_list(when(col("url").isin(sample.keys.toSeq: _*),
        struct(col("url"), asJson))).as("sample"))
    df.agg(cols.head, cols.tail: _*).head()
  }

  /** Failed docs in one pass: all of them when the output's url multiset
    * or its all-column digest differs from the reference, else the
    * sampled rows that differ from the scalar kernel in any column. */
  private def check(r: Row): Long = {
    val urlsOk = r.getAs[Long]("n") == inputUrls._1 && r.getAs[Long]("url_a") == inputUrls._2 &&
      r.getAs[Long]("url_b") == inputUrls._3
    val digestOk = expect == null ||
      (r.getAs[Long]("sum_all") == expect.getAs[Long]("sum_all") &&
        r.getAs[Long]("xor_all") == expect.getAs[Long]("xor_all"))
    val got = r.getAs[scala.collection.Seq[Row]]("sample").map(s => s.getString(0) -> s.getString(1)).toMap
    val bad = sample.count { case (u, e) => !got.get(u).contains(e) }
    if (!urlsOk || !digestOk) docs else bad.toLong
  }

  def pass(t: Trace): (Long, Map[String, Double]) = {
    val pages = io.readPages(spark, "pages").as[PageRow]
    if (name == "crawl_lifecycle") lifecycle(t, pages)
    else {
      val r = t.span("extract.consume")(consume(Jobs.extractNarrow(pages).toDF()))
      val failed = check(r)
      if (expect == null && failed == 0) expect = r
      val layers = if (!t.enabled) Map.empty[String, Double] else {
        awaitListener(t)
        kernelLayers(t, t.stagesIn("extract.consume").filter(_.inputBytes > 0), docs)
      }
      (failed, outcomeLayers(r) ++ layers)
    }
  }

  private def outcomeLayers(r: Row): Map[String, Double] = Map(
    "engine.ok_ratio" -> r.getAs[Long]("ok").toDouble / docs,
    "engine.rejected_ratio" -> r.getAs[Long]("rejected").toDouble / docs)

  private def lifecycle(t: Trace, pages: org.apache.spark.sql.Dataset[PageRow]): (Long, Map[String, Double]) = {
    iter += 1
    val out = s"$work/out/$iter"
    t.span("writer.run")(CheckpointedWriter.run(Jobs.extract(pages, buckets), out, buckets))
    val r = t.span("writer.readback")(consume(CheckpointedWriter.readBack(spark, out)))
    val m = t.span("writer.reconcile")(spark.read.parquet(CheckpointedWriter.metricsDir(out))
      .agg(count(lit(1)), sum("docs"), sum("bytes"), sum("failures")).head())
    val reconciled = m.getLong(0) == buckets && m.getLong(1) == docs &&
      m.getLong(2) == r.getAs[Long]("text_chars") && m.getLong(3) == r.getAs[Long]("errors")
    val failed = if (reconciled) check(r) else docs
    if (expect == null && failed == 0) expect = r
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      awaitListener(t)
      val files = listFiles(new java.io.File(CheckpointedWriter.dataDir(out)))
        .filter(_.getName.endsWith(".parquet"))
      val inRun = t.stagesIn("writer.run")
      val metricsPath = new java.io.File(CheckpointedWriter.metricsDir(out)).getAbsolutePath
      val isMetrics = (s: Stage) => Option(t.execPlans.get(s.execId)).exists(_.contains(metricsPath))
      val (metricStages, writeStages) = inRun.partition(isMetrics)
      val runSpan = t.spans.filter(_.name == "writer.run").last
      val lastStageEnd = inRun.map(s => t.msToNs(s.completeMs)).foldLeft(runSpan.startNs)(math.max)
      kernelLayers(t, writeStages.filter(_.inputBytes > 0), docs) ++ Map(
        "spark.write_stage_s" -> t.wallS(writeStages.filter(_.inputBytes == 0)),
        "spark.files_written" -> files.length.toDouble,
        "out_bytes_per_doc" -> files.map(_.length).sum.toDouble / docs,
        "spark.metrics_s" -> (if (metricStages.isEmpty) 0.0 else
          (metricStages.map(_.completeMs).max - metricStages.map(_.submitMs).min) / 1e3),
        "spark.commit_s" -> math.max(0L, runSpan.endNs - lastStageEnd) / 1e9,
        "spark.readback_s" -> (t.spanSeconds("writer.readback") + t.spanSeconds("writer.reconcile")))
    }
    deleteRec(new java.io.File(out))
    (failed, outcomeLayers(r) ++ layers)
  }

  override def traceOnly(): Map[String, Double] = {
    val picks = Inputs.stratified(idx, PhaseSamplePerClass, seed + 1)
    KernelPhases.measure(picks, weights, seed)
  }

  private def listFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))
}

/** dedup_corpus: exact, minhash and substring dedup over a seeded
  * documents table. */
final class DedupCorpus(spark: SparkSession, w: JsonNode, seed: Long, work: String)
    extends Main.Workload {
  import Main._

  val docs: Long = w.get("docs").asLong
  private val n = docs.toInt
  private val table = s"$work/tables/docs"
  private val minLen = 40
  private val gen = new DedupText(seed)

  private var exactRef: Map[String, (Long, Long)] = Map.empty
  private var minhashRef: Row = _
  private var substringRef: Row = _
  private var grams = 0L

  def setup(): Unit = {
    deleteRec(new java.io.File(table))
    DedupText.write(spark, gen, n, table)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def prepare(): Unit = {
    // independent group-by outside Spark: md5(text) → (copies, min id)
    val texts = (0 until n).map(i => gen.text(i.toLong))
    exactRef = texts.zipWithIndex.groupBy { case (t, _) => md5(t) }
      .map { case (h, v) => h -> ((v.length.toLong, v.map(_._2.toLong).min)) }
    grams = texts.map(t => math.max(0, t.codePointCount(0, t.length) - minLen + 1).toLong).sum
    // single-partition reference for the minhash and substring digests
    val conf = Seq("spark.sql.shuffle.partitions", "spark.graft.spread.bytesPerTask")
    val saved = conf.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.graft.spread.bytesPerTask", (1L << 50).toString)
    val one = spark.read.parquet(table).coalesce(1)
    minhashRef = digest(Dedup.minhashApply(one, "doc_id", "text"))
    substringRef = digest(Dedup.substringRuns(one, "doc_id", "text", minLen))
    saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // the reference run is the warm-up: it runs the same operators
    spark.catalog.clearCache()
  }

  private def digest(df: DataFrame): Row = {
    val extra = if (df.columns.contains("run_len"))
      Seq(sum(col("run_len") - lit(minLen - 1)).as("run_grams")) else Nil
    val cols = digestCols(df, None) ++ extra
    df.agg(cols.head, cols.tail: _*).head()
  }

  private def same(a: Row, b: Row): Boolean =
    Seq("n", "sum_all", "xor_all").forall(k => a.getAs[Any](k) == b.getAs[Any](k))

  def pass(t: Trace): (Long, Map[String, Double]) = {
    val d = spark.read.parquet(table)
    val ex = t.span("ops.exact")(Dedup.exact(d, "doc_id", "text").collect())
    val mh = t.span("ops.minhash")(digest(Dedup.minhashApply(d, "doc_id", "text")))
    val ss = t.span("ops.substring")(digest(Dedup.substringRuns(d, "doc_id", "text", minLen)))
    spark.catalog.clearCache()
    val got = ex.map(r => r.getAs[String]("h") -> ((r.getAs[Long]("n"), r.getAs[Long]("keep_id")))).toMap
    val exactBad = (exactRef.keySet ++ got.keySet).toSeq
      .filter(k => exactRef.get(k) != got.get(k))
      .map(k => exactRef.get(k).orElse(got.get(k)).get._1).sum
    val failed = math.min(docs, exactBad +
      (if (same(mh, minhashRef)) 0 else docs) + (if (same(ss, substringRef)) 0 else docs))
    val layers = if (!t.enabled) Map.empty[String, Double] else {
      awaitListener(t)
      val ops = Seq("ops.exact", "ops.minhash", "ops.substring").flatMap(t.stagesIn)
      Map(
        "ops.exact_s" -> t.spanSeconds("ops.exact"),
        "ops.minhash_s" -> t.spanSeconds("ops.minhash"),
        "ops.substring_s" -> t.spanSeconds("ops.substring"),
        "ops.shuffle_write_bytes_per_doc" -> ops.map(_.shuffleWriteBytes).sum.toDouble / docs,
        "ops.substring_useful_gram_ratio" -> ss.getAs[Long]("run_grams").toDouble / grams)
    }
    (failed, layers)
  }

  override def traceOnly(): Map[String, Double] = {
    val pairs = Dedup.minhashLsh(spark.read.parquet(table), "doc_id", "text")
      .agg(count(lit(1)), sum(when(col("est_jaccard") >= 0.5, 1L).otherwise(0L))).head()
    spark.catalog.clearCache()
    val cand = pairs.getLong(0)
    Map("ops.minhash_pair_keep_ratio" ->
      (if (cand == 0) 0.0 else Option(pairs.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L).toDouble / cand))
  }
}

/** Heap in use after garbage collection while a body runs: a sampler
  * thread forces a full collection, reads what it left in the heap's
  * pools, and waits twice as long as the collection took (at least
  * `MinGapMs`), so collections take at most a third of the body's time.
  * The largest reading is the body's live working set. */
object HeapProbe {
  val MinGapMs = 50L

  def peakDuring[T](body: => T): (T, Double) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val done = new java.util.concurrent.CountDownLatch(1)
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    def sample(): Unit = {
      System.gc()
      peak.accumulateAndGet(pools.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum,
        (a: Long, b: Long) => math.max(a, b))
    }
    val t = new Thread(() => {
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        sample()
        val gapMs = math.max(MinGapMs, 2 * (System.nanoTime() - t0) / 1000000)
        more = !done.await(gapMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
    }, "heap-probe")
    t.setDaemon(true)
    t.start()
    val r = try body finally { done.countDown(); t.join() }
    (r, peak.get / 1048576.0)
  }
}

package graft.tools

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import graft.engine.Extractor
import graft.gen.SyntheticCorpus
import graft.spark.Jobs
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Profiles WHERE the raw 8→32 scaling gap of the extract job goes —
  * the instrumented companion to ScalingBench, separating the three
  * suspects the spin-loop calibration cannot tell apart from inside
  * the job itself:
  *
  *  - **GC**: per-task `jvmGcTime` (Spark task metrics) plus process
  *    GarbageCollectorMXBean deltas per pass. If the GC fraction grows
  *    materially at 32 tasks, allocation pressure is implicated and a
  *    kernel fix (allocation reuse) would lift raw efficiency.
  *  - **Host ceiling (SMT / turbo / memory bandwidth)**: per-task
  *    `executorCpuTime` per document. The instruction stream per doc is
  *    identical at both levels, so cpu-seconds/doc inflating at 32
  *    concurrent tasks (while GC stays flat) means each thread simply
  *    retires the same work more slowly — hyperthread pairing and
  *    shared memory bandwidth, not the engine.
  *  - **Spark overhead / shuffle**: scheduler+serialization slack =
  *    wall·threads − Σ executorRunTime, and the extractNarrow job has
  *    zero shuffle by construction (any shuffle rows/bytes would show
  *    in the metrics as a bug).
  *
  * The same session also runs the NO-SPARK kernel twin (plain JVM
  * threads over the same synthetic rows; BENCH/profile_scaling_r05.md
  * holds its numbers): if the bare kernel shows the same 8→32 ceiling
  * as the Spark job, Spark's runtime is exonerated entirely.
  *
  * Writes the markdown artifact given as arg(0)
  * (default BENCH/profile_scaling.md).
  */
object ProfileScaling {

  val nDocs = 400000L

  // per-pass task-metric accumulators (reset between passes)
  private val runTime = new LongAdder // ms
  private val cpuTime = new LongAdder // ns
  private val gcTime = new LongAdder // ms
  private val deserTime = new LongAdder // ms
  private val serTime = new LongAdder // ms
  private val shuffleRows = new LongAdder
  private val peakMem = new AtomicLong
  private val nTasks = new LongAdder

  private def resetAcc(): Unit = {
    runTime.reset(); cpuTime.reset(); gcTime.reset(); deserTime.reset()
    serTime.reset(); shuffleRows.reset(); peakMem.set(0L); nTasks.reset()
  }

  final case class Pass(
      wallSec: Double, tasks: Long, runSec: Double, cpuSec: Double,
      gcTaskSec: Double, deserSec: Double, serSec: Double,
      gcBeanSec: Double, gcBeanCount: Long, shuffleRows: Long)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val outFile = args.headOption.getOrElse("BENCH/profile_scaling.md")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-profile-scaling")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          nTasks.increment()
          runTime.add(m.executorRunTime)
          cpuTime.add(m.executorCpuTime)
          gcTime.add(m.jvmGCTime)
          deserTime.add(m.executorDeserializeTime)
          serTime.add(m.resultSerializationTime)
          shuffleRows.add(m.shuffleReadMetrics.recordsRead)
          shuffleRows.add(m.shuffleWriteMetrics.recordsWritten)
          val pk = m.peakExecutionMemory
          var cur = peakMem.get
          while (pk > cur && !peakMem.compareAndSet(cur, pk)) cur = peakMem.get
        }
      }
    })

    def gcBean(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
    }

    def pass(parallelism: Int): Pass = {
      resetAcc()
      val (gcC0, gcT0) = gcBean()
      val t0 = System.nanoTime()
      Jobs.extractNarrow(
          Jobs.syntheticPages(spark, nDocs, parallelism = parallelism))
        .toDF()
        .select(xxhash64(col("url"), col("text"), col("outcome")).as("h"))
        .agg(expr("bit_xor(h)"), count(lit(1))).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      // TaskEnd events arrive on the ASYNC listener bus — wait until the
      // expected task count (parallelism map tasks + 1 agg task) lands,
      // or stragglers would be missed here and swallowed by the next
      // pass's resetAcc (misattributing work between levels)
      val expected = parallelism + 1
      val deadline = System.nanoTime() + 5_000_000_000L
      while (nTasks.sum() < expected && System.nanoTime() < deadline)
        Thread.sleep(20)
      if (nTasks.sum() < expected)
        println(s"[profile-scaling] WARN: only ${nTasks.sum()} of " +
          s"$expected task-end events arrived before timeout")
      val (gcC1, gcT1) = gcBean()
      Pass(wall, nTasks.sum(), runTime.sum() / 1e3, cpuTime.sum() / 1e9,
        gcTime.sum() / 1e3, deserTime.sum() / 1e3, serTime.sum() / 1e3,
        (gcT1 - gcT0) / 1e3, gcC1 - gcC0, shuffleRows.sum())
    }

    // no-Spark kernel twin over the identical rows
    def kernelPass(threads: Int): Double = {
      val next = new AtomicLong(0)
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        val t = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < nDocs) {
            Extractor.extract(SyntheticCorpus.row(i)); ()
            i = next.getAndIncrement()
          }
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    // 2 warm passes for C2 convergence, then 3 paired trials
    pass(32); pass(8)
    val trials = (1 to 3).map { _ => (pass(8), pass(32)) }
    val k8 = kernelPass(8); val k32 = kernelPass(32)

    // Multi-wave control: the single-wave tail is an artifact of the
    // sandbox's concurrency=partitions emulation. Re-emulate the two
    // cluster sizes as task SLOTS (spark.task.cpus=4 on local[32] ⇒ 8
    // concurrent tasks) with 128 partitions — many waves per slot, the
    // way a real executor drains a job — and measure the same pair.
    spark.stop()
    def slotPass(taskCpus: Int): Double = {
      val s = SparkSession.builder()
        .master("local[32]")
        .appName(s"graft-profile-slots-$taskCpus")
        .config("spark.task.cpus", taskCpus.toString)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      try {
        def one(): Double = {
          val t0 = System.nanoTime()
          Jobs.extractNarrow(
              Jobs.syntheticPages(s, nDocs, parallelism = 128))
            .toDF()
            .select(xxhash64(col("url"), col("text"), col("outcome")).as("h"))
            .agg(expr("bit_xor(h)"), count(lit(1))).collect()
          (System.nanoTime() - t0) / 1e9
        }
        one() // warm this context's codegen/scan path
        Seq(one(), one(), one()).sorted.apply(1) // median of 3
      } finally s.stop()
    }
    val slot8 = slotPass(4)
    val slot32 = slotPass(1)

    val sb = new StringBuilder
    sb ++= "# Extract-job scaling profile (8 vs 32 concurrent tasks)\n\n"
    sb ++= s"Job: `Jobs.extractNarrow` over $nDocs synthetic docs — the\n"
    sb ++= "ScalingBench job, instrumented with Spark task metrics and\n"
    sb ++= "GarbageCollectorMXBean deltas. 2 warm passes, 3 paired trials.\n\n"
    sb ++= "| trial | lvl | wall s | tasks | Σrun s | Σcpu s | Σgc(task) s " +
      "| gc(bean) s | gc count | deser s | ser s | shuffle rows |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    trials.zipWithIndex.foreach { case ((p8, p32), i) =>
      Seq((8, p8), (32, p32)).foreach { case (lvl, p) =>
        sb ++= f"| ${i + 1} | $lvl | ${p.wallSec}%.2f | ${p.tasks} " +
          f"| ${p.runSec}%.1f | ${p.cpuSec}%.1f | ${p.gcTaskSec}%.1f " +
          f"| ${p.gcBeanSec}%.1f | ${p.gcBeanCount} | ${p.deserSec}%.2f " +
          f"| ${p.serSec}%.2f | ${p.shuffleRows} |\n"
      }
    }
    sb ++= "\nDerived (medians over trials):\n\n"
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val cpuDoc8 = med(trials.map(_._1.cpuSec * 1e6 / nDocs))
    val cpuDoc32 = med(trials.map(_._2.cpuSec * 1e6 / nDocs))
    val gcFrac8 = med(trials.map(t => t._1.gcBeanSec / (t._1.wallSec * 8)))
    val gcFrac32 = med(trials.map(t => t._2.gcBeanSec / (t._2.wallSec * 32)))
    val slack8 = med(trials.map(t => 1.0 - t._1.runSec / (t._1.wallSec * 8)))
    val slack32 = med(trials.map(t => 1.0 - t._2.runSec / (t._2.wallSec * 32)))
    val rawEff = med(trials.map(t => t._1.wallSec / t._2.wallSec / 4.0))
    val kernelEff = k8 / k32 / 4.0
    sb ++= f"- raw 8→32 efficiency (Spark job, single-wave " +
      f"concurrency=partitions): ${rawEff}%.3f\n"
    sb ++= f"- raw 8→32 efficiency (Spark job, MULTI-WAVE slots: " +
      f"task.cpus 4→1, 128 partitions, median of 3): " +
      f"${slot8 / slot32 / 4.0}%.3f  (8-slot ${slot8}%.2f s, " +
      f"32-slot ${slot32}%.2f s)\n"
    sb ++= f"- raw 8→32 efficiency (NO-Spark kernel threads): " +
      f"${kernelEff}%.3f  (8t ${k8}%.2f s, 32t ${k32}%.2f s)\n"
    sb ++= f"- cpu-µs per doc: 8-task ${cpuDoc8}%.1f → 32-task " +
      f"${cpuDoc32}%.1f (×${cpuDoc32 / cpuDoc8}%.2f)\n"
    sb ++= f"- GC share of thread-seconds: 8-task ${gcFrac8 * 100}%.1f%%" +
      f" → 32-task ${gcFrac32 * 100}%.1f%%\n"
    sb ++= f"- scheduler/idle slack (1 − Σrun/(wall·threads)): " +
      f"8-task ${slack8 * 100}%.1f%% → 32-task ${slack32 * 100}%.1f%%\n"
    sb ++= s"- shuffle rows at either level: " +
      s"${trials.map(t => t._1.shuffleRows + t._2.shuffleRows).sum} " +
      "(extractNarrow is shuffle-free by construction)\n\n"
    sb ++= "Reading: the job's instruction stream per doc is identical at\n"
    sb ++= "both levels, so a cpu-µs/doc inflation at 32 tasks with a flat\n"
    sb ++= "GC share is work retiring more slowly per thread — the host's\n"
    sb ++= "SMT pairing/turbo/memory-bandwidth ceiling, not the engine. A\n"
    sb ++= "growing GC share would instead implicate allocation pressure\n"
    sb ++= "(fixable in the kernel); growing slack would implicate the\n"
    sb ++= "scheduler. The no-Spark kernel twin is the control: its\n"
    sb ++= "efficiency bounds what ANY runtime could achieve on this box.\n"
    Files.write(Paths.get(outFile),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[profile-scaling] wrote $outFile")
    spark.stop()
  }
}

package graft.tools

import graft.model.Outcome
import graft.spark.{CheckpointedWriter, Jobs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The full production lifecycle as ONE spark-submit-able job — the shape
  * a cluster run uses (SURVEY.md §3.1 "Spark shape of the same
  * lifecycle"): source → fused narrow extract kernel → url-hash
  * repartition (one partition per output bucket) → idempotent
  * bucket-committed write (+ per-bucket lineage metrics) → read-back
  * verification (the reference's report_output_pdf / check_pdf
  * discipline: re-open what you just wrote and validate).
  *
  * Usage: runMain graft.tools.RunPipeline [nDocs] [outDir] [buckets]
  * Re-running against the same outDir resumes: committed buckets are
  * skipped (delete outDir for a fresh run). Prints one JSON line and
  * exits 1 when the read-back disagrees with `nDocs` or the metrics.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    // stable %.1f decimal separators: the one-line JSON result is
    // machine-parsed, and a comma-decimal locale would corrupt it
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_run").toString
    val buckets = if (args.length > 2) args(2).toInt else 32
    val builder = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Jobs.scaleConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val extracted = Jobs.extract(Jobs.syntheticPages(spark, n), buckets)
    val wrote = CheckpointedWriter.run(extracted, out, buckets)
    val wallS = (System.nanoTime() - t0) / 1e9

    // read-back verification: row count, per-url uniqueness, content
    // checksum, and metrics-table reconciliation (the dynamic partition
    // overwrite leaves exactly one metrics row per bucket)
    val back = CheckpointedWriter.readBack(spark, out)
    val agg = back.agg(count(lit(1)).as("docs"),
      countDistinct(col("url")).as("urls"),
      expr("bit_xor(xxhash64(url, text, outcome))").as("checksum"),
      sum(length(col("text"))).as("bytes"),
      sum(when(Outcome.isFailure(col("outcome")), 1L).otherwise(0L))
        .as("failures")).collect()(0)
    val m = spark.read.parquet(CheckpointedWriter.metricsDir(out))
      .agg(sum("docs"), sum("bytes"), sum("failures")).collect()(0)
    val mDocs = m.getLong(0)
    val ok = agg.getLong(0) == n && agg.getLong(1) == n && mDocs == n &&
      m.getLong(1) == agg.getLong(3) && m.getLong(2) == agg.getLong(4)
    println(
      f"""{"job":"run_pipeline","docs":${agg.getLong(0)},"distinct_urls":${agg.getLong(1)},"metrics_docs":$mDocs,"bytes":${agg.getLong(3)},"metrics_bytes":${m.getLong(1)},"failures":${agg.getLong(4)},"metrics_failures":${m.getLong(2)},"buckets_written":$wrote,"checksum":${agg.getLong(2)},"wall_s":$wallS%.1f,"docs_per_sec":${n / wallS}%.0f,"verified":$ok,"out":"$out"}""")
    if (!ok) sys.exit(1)
    spark.stop()
  }
}

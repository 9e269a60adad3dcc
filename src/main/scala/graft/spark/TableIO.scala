package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table abstraction — the swap-in point for an Iceberg catalog
  * (SURVEY.md §7.1: no Iceberg runtime jars ship in this sandbox image, so
  * "Iceberg table" semantics are implemented over bucket-laid-out parquet;
  * on a real cluster `IcebergTableIO` would implement this same trait with
  * `spark.table` / `writeTo(...).append()` and snapshot commits).
  */
trait TableIO {
  def readPages(spark: SparkSession, table: String): DataFrame
  def writeExtracted(df: DataFrame, table: String, buckets: Int): Unit

  /** Dynamic-partition overwrite — Iceberg's `overwritePartitions()`
    * semantics: ONLY the buckets present in `df` are replaced; rows in
    * untouched buckets survive. The idempotent-reprocess primitive: a
    * re-run of one corpus slice replaces exactly its own buckets. */
  def overwriteExtracted(df: DataFrame, table: String, buckets: Int): Unit
  def writeMetrics(df: DataFrame, table: String): Unit
}

/** Partitioned-parquet implementation: bucket(url) layout via an explicit
  * bucket column (mirroring Iceberg's `bucket(N, url)` partition
  * transform), ZSTD compression for the text-heavy output. */
final class ParquetTableIO(root: String) extends TableIO {

  private def path(table: String) = s"$root/$table"

  def readPages(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(path(table))

  def writeExtracted(df: DataFrame, table: String, buckets: Int): Unit =
    Jobs.writeBuckets(bucketed(df, buckets), path(table), SaveMode.Append)

  def overwriteExtracted(df: DataFrame, table: String, buckets: Int): Unit =
    Jobs.writeBuckets(bucketed(df, buckets), path(table), SaveMode.Overwrite)

  /** One write task per bucket: `repartition(buckets, url)` puts exactly
    * bucket k (`Jobs.bucketCol`) in shuffle partition k. */
  private def bucketed(df: DataFrame, buckets: Int): DataFrame =
    df.repartition(buckets, col("url"))
      .withColumn("bucket", Jobs.bucketCol(buckets))

  def writeMetrics(df: DataFrame, table: String): Unit =
    df.write.option("compression", "zstd").mode("append").parquet(path(table))
}

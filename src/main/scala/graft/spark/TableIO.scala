package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
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
    bucketed(df, buckets)
      .write
      .partitionBy("bucket")
      .option("compression", "zstd")
      .mode("append")
      .parquet(path(table))

  def overwriteExtracted(df: DataFrame, table: String, buckets: Int): Unit =
    bucketed(df, buckets)
      .write
      .partitionBy("bucket")
      .option("compression", "zstd")
      // dynamic mode scopes the overwrite to the partitions present in
      // df (static mode would truncate the whole table) — the parquet
      // spelling of Iceberg's overwritePartitions()
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path(table))

  private def bucketed(df: DataFrame, buckets: Int): DataFrame = {
    // One write task per bucket WITHOUT RangePartitioning: a range
    // repartition first runs a bounds-SAMPLING job that re-executes the
    // whole upstream plan (the uncached extraction kernel — at the
    // 100 TB shape the write would pay the kernel twice). Bucket values
    // are known to be exactly 0..B-1, so no sampling is needed; and a
    // plain repartition(col("bucket")) would re-MURMUR the B coarse
    // values into B partitions (balls-in-bins: ~1/e of write tasks
    // empty, others carrying 2-3 whole buckets — the double-hash skew
    // Jobs.extract's comment documents). Instead: precompute, per
    // bucket, a SALT whose murmur3 hash routes to a distinct shuffle
    // partition (coupon-collector over ints, deterministic, driver-side
    // and O(B log B) cheap), and hash-repartition on the salt — one
    // shuffle pass, exactly one task per bucket.
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, Murmur3Hash}
    val salts = new Array[Int](buckets)
    val seen = new Array[Boolean](buckets)
    var k = 0
    var found = 0
    while (found < buckets) {
      // the same hash HashPartitioning applies: murmur3(seed 42), pmod N
      val h = Murmur3Hash(Seq(CatLit(k)), 42).eval(null).asInstanceOf[Int]
      val p = ((h % buckets) + buckets) % buckets
      if (!seen(p)) { seen(p) = true; salts(p) = k; found += 1 }
      k += 1
    }
    df.withColumn("bucket", Jobs.bucketCol(buckets))
      .withColumn("__route", element_at(typedLit(salts.toSeq), col("bucket") + 1))
      .repartition(buckets, col("__route"))
      .drop("__route")
  }

  def writeMetrics(df: DataFrame, table: String): Unit =
    df.write.option("compression", "zstd").mode("append").parquet(path(table))
}

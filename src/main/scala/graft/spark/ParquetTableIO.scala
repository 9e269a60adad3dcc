package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet tables under one root directory, read by name (`root/table`).
  * The read side of the sandbox's table layout (SURVEY.md §7.1: no
  * Iceberg runtime jars ship in this image); the extracted output is
  * written by [[CheckpointedWriter]]. */
final class ParquetTableIO(root: String) {

  def readPages(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$root/$table")
}

package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output-table optimization: bin-pack each bucket's small parquet part
  * files into ~`targetBytes` files — the storage analog of the
  * reference's post-processing optimizer (`src/ocrmypdf/optimize.py:
  * 697-756` `optimize()`), which rewrites the output to a temp target,
  * keeps the original whenever rewriting would not improve it, and
  * reports the savings. Here the waste being reclaimed is FILE-COUNT
  * waste: a 10^12-row table written by many small per-partition commits
  * accumulates part files far below the parquet sweet spot, and every
  * later scan pays per-file open/footer costs (and the driver pays
  * listing). Iceberg's `rewrite_data_files` is the warehouse-native
  * version of exactly this job; this implementation works on the
  * bucket-laid-out parquet of [[ParquetTableIO]].
  *
  * Semantics mirrored from the reference:
  *  - nothing-to-do buckets are skipped untouched (`optimize == 0` /
  *    symlink-through branch);
  *  - each compacted bucket is rewritten to a TEMP dir first and only
  *    swapped in whole (`output_file.with_suffix('.opt.pdf')` then
  *    rename);
  *  - a rewrite that does not reduce the file count is discarded and
  *    the original kept ("optimization did not improve the file" branch
  *    — never regress the output);
  *  - per-bucket savings are reported (files/bytes before and after).
  *
  * Crash safety: the swap is (rename live → .trash, rename tmp → live,
  * delete .trash). A crash between the two renames leaves `.trash`
  * intact — `recoverBucket` (called automatically on the next compact)
  * restores it. Single concurrent compactor per table, by the same
  * documented contract as CheckpointedWriter's writer side.
  *
  * 100 TB shape: each bucket rewrite is one narrow Spark job (read the
  * bucket, coalesce to ceil(bytes/target) partitions, write) — no
  * shuffle, no text movement beyond the rewrite itself, and buckets are
  * independent so a warehouse runner fans them out as parallel jobs.
  */
object Compact {

  final case class BucketStat(bucket: Int, filesBefore: Long,
      bytesBefore: Long, filesAfter: Long, bytesAfter: Long,
      action: String)

  private def partFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** Repair the two crash windows of a bucket swap, given the live dir:
    *  - crash BETWEEN the renames → live missing, `.trash` holds the
    *    only copy: restore it;
    *  - crash AFTER publish → live (new) AND `.trash` (old copy) both
    *    present: the trash dir matches Spark's partition-discovery
    *    pattern, so readers would double-count every bucket row until
    *    it is deleted — delete it. */
  private def recoverBucket(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(
      live.getParent, live.getName + ".trash")
    if (fs.exists(trash)) {
      if (!fs.exists(live))
        require(fs.rename(trash, live),
          s"failed to restore $live from interrupted compaction")
      else fs.delete(trash, true)
    }
  }

  /** Compact every bucket of `tableDir` (a [[ParquetTableIO]] layout:
    * `tableDir/bucket=K/part-*.parquet`) whose average part-file size is
    * below `targetBytes`/2. Returns one [[BucketStat]] per bucket with
    * the action taken (`skipped` / `compacted` / `kept`). */
  def compactTable(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L << 20): Seq[BucketStat] = {
    val fs = Jobs.fsFor(tableDir, spark)
    val root = new org.apache.hadoop.fs.Path(tableDir)
    if (!fs.exists(root)) return Seq.empty
    // recovery sweep FIRST: a bucket stranded as `bucket=K.trash` with
    // no live dir would otherwise never be listed below (the `.trash`
    // suffix breaks the toInt parse) and its data would stay lost
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")
        && s.getPath.getName.endsWith(".trash"))
      .foreach { t =>
        recoverBucket(fs, new org.apache.hadoop.fs.Path(
          root, t.getPath.getName.stripSuffix(".trash")))
      }
    val buckets = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .sortBy(_.getPath.getName)
    val stats = buckets.flatMap { b =>
      val name = b.getPath.getName.stripPrefix("bucket=")
      scala.util.Try(name.toInt).toOption.map(
        compactBucket(spark, tableDir, _, targetBytes))
    }
    // the session's FileStatusCache may still hold the pre-compaction
    // listing (deleted trash dirs, replaced part files) — invalidate so
    // the next read of this table lists the real layout
    spark.catalog.refreshByPath(tableDir)
    stats
  }

  def compactBucket(spark: SparkSession, tableDir: String, bucket: Int,
      targetBytes: Long): BucketStat = {
    val fs = Jobs.fsFor(tableDir, spark)
    val live = new org.apache.hadoop.fs.Path(s"$tableDir/bucket=$bucket")
    recoverBucket(fs, live)
    val before = partFiles(fs, live)
    val bytesBefore = before.map(_.getLen).sum
    val nBefore = before.size.toLong
    // a bucket already at (or above) half the target average has nothing
    // worth reclaiming — skip untouched, like the reference's level-0
    // pass-through
    val wantFiles = math.max(1L, (bytesBefore + targetBytes - 1) / targetBytes)
    if (nBefore <= wantFiles ||
        (nBefore > 0 && bytesBefore / nBefore >= targetBytes / 2))
      return BucketStat(bucket, nBefore, bytesBefore, nBefore, bytesBefore,
        "skipped")
    val tmp = new org.apache.hadoop.fs.Path(s"$tableDir/.compact_tmp_$bucket")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.parquet(live.toString)
      .coalesce(wantFiles.toInt)
      .write.option("compression", "zstd").parquet(tmp.toString)
    // drop the _SUCCESS marker so the swapped-in dir holds data files only
    fs.delete(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), false)
    val after = partFiles(fs, tmp)
    val bytesAfter = after.map(_.getLen).sum
    if (after.size.toLong >= nBefore) {
      // no improvement — keep the original (the reference's
      // "optimization did not improve the file" branch)
      fs.delete(tmp, true)
      return BucketStat(bucket, nBefore, bytesBefore, nBefore, bytesBefore,
        "kept")
    }
    val trash = new org.apache.hadoop.fs.Path(s"$tableDir/bucket=$bucket.trash")
    if (fs.exists(trash)) fs.delete(trash, true)
    require(fs.rename(live, trash), s"compact swap: cannot stage $live")
    require(fs.rename(tmp, live), s"compact swap: cannot publish $tmp")
    fs.delete(trash, true)
    BucketStat(bucket, nBefore, bytesBefore, after.size.toLong, bytesAfter,
      "compacted")
  }
}

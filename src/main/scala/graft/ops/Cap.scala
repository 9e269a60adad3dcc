package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.storage.StorageLevel

/** The exact skew cap and key self-join every near-dup candidate
  * generator in [[Dedup]] and [[Similarity]] runs: explode (key, id)
  * rows, keep only the rows whose key group is small enough to join
  * quadratically, self-join on the key with `doc_a < doc_b`.
  *
  * The cap's meaning: a row survives iff its key group holds between
  * `min` and `max` rows, counted EXACTLY over all input rows (a
  * boilerplate key shared by more than `max` rows is cut from candidate
  * generation entirely — the cap defines the operator's semantics, it is
  * not a sampling approximation). The surviving rows keep the group size
  * as `bucket_n`.
  *
  * Two plan shapes compute it; each site picks the one measured to win
  * for it (OPTIMIZATION_r06.md "Skew-cap shape work"):
  *  - [[window]]: `count().over(partitionBy(keys))`. Its exchange is the
  *    ONLY exchange in the candidate path — the persist captures its key
  *    partitioning AND sort, so the self-join runs exchange-free and
  *    sort-free off the cache. Wins where the two-phase form's extra
  *    exchanges cost more than they save — LSH bands and the cheap token
  *    explode (two-phase vs window: minhash 1.89 vs 1.25 s, all-pairs
  *    0.62 vs 0.42 s).
  *    Skew exposure is bounded: every row of a hot key partition is
  *    dropped by the filter right after counting, and window buffers
  *    spill rather than OOM.
  *  - [[counted]]: a two-phase `groupBy(keys).count` joined back. A
  *    boilerplate key collapses map-side to one (key, n) row instead of
  *    forming one giant window partition — no hot-key buffering anywhere
  *    (guide §2.5 two-level agg). Wins where keys are hot — shingles
  *    and fingerprints (window vs two-phase: containment 2.29 vs 1.94 s,
  *    winnow 1.27 vs 0.78 s).
  * No data-derived switch between them exists yet: the crossover depends
  * on data volume, and no benchmark workload runs a two-phase cap. */
private[graft] object Cap {

  /** The window shape: cap `rows` on `keys`, then persist — the barrier
    * that keeps Catalyst from inlining the (often md5-heavy) explode into
    * both self-join sides and that carries the window's partitioning to
    * the join.
    *
    * On the lifetime of this and every other operator persist barrier:
    * the barrier must outlive the returned LAZY DataFrame, so operators
    * cannot unpersist internally. MEMORY_AND_DISK caching degrades by
    * LRU eviction/spill (never job failure) when a long-lived session
    * accumulates barriers; a session running many corpora should
    * `spark.catalog.clearCache()` between them — and at warehouse scale
    * the barrier is a written signature TABLE, not an RDD cache, by
    * design. */
  def window(rows: DataFrame, keys: Seq[String], max: Int): DataFrame =
    rows.withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bucket_n") <= max)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The two-phase shape: per-key counts filtered to [min, max], joined
    * back to `rows`. No persist — each caller places its own barrier
    * where its fork is (after the join, or on `rows` before the count). */
  def counted(rows: DataFrame, keys: Seq[String], max: Int,
      min: Int = 1): DataFrame = {
    val counts = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= max && col("bucket_n") >= min)
    rows.join(counts, keys)
  }

  /** Candidate pairs: `capped` self-joined on `keys`, oriented
    * `doc_a < doc_b` on its `id` column; each `carry` column rides along
    * as `<c>_a` / `<c>_b`. One row per (shared key, pair). */
  def pairs(capped: DataFrame, keys: Seq[String], carry: String*): DataFrame = {
    def side(s: String) = capped.select(keys.map(col) ++
      (col("id").as(s"doc_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), keys).filter(col("doc_a") < col("doc_b"))
  }

  /** Attaches each pair side's row count in `capped` as `sz_a` / `sz_b`:
    * set sizes over the SAME capped universe the pairs were joined on
    * (counting hot keys in the sizes but never in the overlap would
    * silently understate every overlap ratio built on them). */
  def withSizes(pairs: DataFrame, capped: DataFrame): DataFrame = {
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("sz"))
    def side(s: String) =
      sizes.select(col("id").as(s"doc_$s"), col("sz").as(s"sz_$s"))
    pairs.join(side("a"), Seq("doc_a")).join(side("b"), Seq("doc_b"))
  }
}

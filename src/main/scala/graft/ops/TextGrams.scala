package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text-gram and hash-coin column builders. ONE owner for the
  * SQL algebra that [[CorpusStats]], [[CountMin]], [[Bloom]] and
  * [[Dedup]] must keep consistent with their DuckDB oracles: the
  * whitespace word split, the n-word md5 gram window, the L-codepoint
  * window key, and the md5-coin bit/row position. A private copy
  * drifting in any one operator would silently un-sync the
  * cross-operator invariants (e.g. Bloom's
  * bloom_hits ≥ exact n_hits admissibility relies on BOTH decontaminate
  * forms hashing the identical grams). */
private[ops] object TextGrams {

  /** Whitespace tokens of `textCol`, empties dropped. */
  def wordsExpr(textCol: String): Column =
    expr(s"filter(split($textCol, ' '), x -> x != '')")

  /** Word n-gram hash list over a `ws` words column (md5 of the
    * space-joined window, stride 1), empty when the document has fewer
    * than n words — the guard matters: Spark's sequence(1, 0) is the
    * DESCENDING [1, 0], not empty. */
  def wordGramsExpr(n: Int): Column = expr(
    s"case when size(ws) >= $n then transform(sequence(1, size(ws) - $n + 1)," +
      s" i -> md5(array_join(slice(ws, i, $n), ' '))) " +
      "else array() end")

  /** Character-gram key list of `textCol`: the `rolling_hash2` key of
    * every `l`-codepoint window (stride 1; element i is the window at
    * 1-based position i + 1), empty below `l` codepoints. The one window
    * key of exact-substring matching — substring dedup and substring
    * decontamination must key windows alike or their runs and hits
    * silently stop agreeing. Callers register
    * [[graft.functions.GraftFunctions]] on the session first. */
  def charGramsExpr(textCol: String, l: Int): Column =
    expr(s"rolling_hash2($textCol, $l)")

  /** (token, doc_id, tf) grain — one row per distinct token per doc, by
    * two-phase hash agg. ONE owner (same rationale as the class doc):
    * [[InvertedIndex]] and [[Search]] must tokenize identically or index
    * vs search semantics silently diverge. `tokenFilter` is applied
    * between the explode and the groupBy so a broadcast-literal isin
    * prunes rows BEFORE any shuffle. */
  def tokenGrain(docs: DataFrame, idCol: String, textCol: String,
      tokenFilter: Option[Column] = None): DataFrame = {
    // spread BEFORE the token explode — the tokenize+explode is the
    // expensive half of an index build and must not serialize on one
    // scan split (Par.spread is a no-op on already-wide layouts)
    val base = Par.spread(docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("tg_text")), "doc_id")
      .select(col("doc_id"), explode(wordsExpr("tg_text")).as("token"))
    tokenFilter.fold(base)(base.filter)
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"))
  }

  /** md5-coin position: first 8 md5 hex digits of "<tag><value>" mod m —
    * the samplers' coin idiom, DuckDB-replayable as
    * ('0x' || substring(md5(...), 1, 8))::BIGINT % m. */
  def md5Pos(tag: String, value: Column, m: Long): Column =
    pmod(conv(substring(md5(concat(lit(tag), value)
      .cast("binary")), 1, 8), 16, 10).cast("long"), lit(m))
}

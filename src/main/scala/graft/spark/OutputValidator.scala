package graft.spark

import graft.model.Outcome
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structural conformance validator over the extraction OUTPUT table —
  * the analog of the reference's post-generation PDF/A validation gate
  * (reference: src/ocrmypdf/_exec/verapdf.py:56-102, run inside
  * `try_auto_pdfa`): value-equality checks (Verify + DuckDB oracle)
  * prove the rows match the fixtures; this pass proves the table is
  * STRUCTURALLY well-formed regardless of fixtures — the invariants a
  * downstream consumer relies on without re-reading the engine.
  *
  * Checked invariants (each emits one violation row per offending doc):
  *  - `outcome_vocab`: outcome is in the closed vocabulary
  *    `graft.model.Outcome.all` | error:<class>.
  *  - `dir_enum`: dir ∈ {ltr, rtl}.
  *  - `lang_enum`: lang is a 2-3-letter lowercase code (incl. "und").
  *  - `span_bounds`: every span has 0 ≤ start ≤ end ≤ len(text) in
  *    UTF-16 units (span offsets are StringBuilder offsets —
  *    TextAssembler.assemble — so the bound is the UTF-16 length,
  *    computed via encode(text,'UTF-16BE') rather than the codepoint
  *    `length()`).
  *  - `span_order`: spans sorted by start and pairwise disjoint
  *    (next.start ≥ prev.end).
  *  - `nfkc_idempotent`: NFKC(text) == text — the kernel normalizes at
  *    tokenization (Blocks.nfkc), so re-normalizing must be a no-op.
  *
  * 100 TB shape: one narrow pass over the output table — every check is
  * a projection (the one JVM-library check, NFKC, is a scalar UDF used
  * only in this audit stage, never in the extraction path); violations
  * explode from an inline array, so conforming rows emit nothing and
  * the pass shuffles only the (rare) violation rows for display. */
object OutputValidator {

  /** Closed outcome vocabulary: `Outcome.all` plus `error:<class>` (the
    * fixed values hold no regex metacharacters, so each matches itself). */
  val outcomePattern: String =
    (Outcome.all :+ Outcome.error("[A-Za-z0-9_.$]+")).mkString("^(", "|", ")$")

  private val nfkcDrifts = udf { (s: String) =>
    s != null && !java.text.Normalizer.isNormalized(
      s, java.text.Normalizer.Form.NFKC)
  }

  /** One row per (doc, violated invariant): (url, invariant, detail).
    * Empty result ⟺ the table conforms. `out` needs columns
    * url, text, spans, outcome, lang, dir (extra columns ignored). */
  def violations(out: DataFrame): DataFrame = {
    // UTF-16 length: 2 bytes per UTF-16 unit in the UTF-16BE encoding
    // (astral codepoints = 2 units = 4 bytes) — matches StringBuilder
    // offsets where Spark's length() would count codepoints
    val u16len = expr("octet_length(encode(text, 'UTF-16BE')) div 2")
    val checks: Seq[(String, Column, Column)] = Seq(
      // every nullable-by-corruption column checked explicitly: a NULL
      // would otherwise null out the predicate and when(null, ...) would
      // silently take the no-violation branch — a null-corrupted table
      // must NOT audit as conformant
      ("not_null",
        col("url").isNull || col("text").isNull || col("spans").isNull ||
          col("outcome").isNull || col("lang").isNull || col("dir").isNull,
        concat_ws(",",
          when(col("url").isNull, lit("url")),
          when(col("text").isNull, lit("text")),
          when(col("spans").isNull, lit("spans")),
          when(col("outcome").isNull, lit("outcome")),
          when(col("lang").isNull, lit("lang")),
          when(col("dir").isNull, lit("dir")))),
      ("outcome_vocab",
        !regexp_like(col("outcome"), lit(outcomePattern)),
        col("outcome")),
      ("dir_enum", !col("dir").isin("ltr", "rtl"), col("dir")),
      ("lang_enum",
        !regexp_like(col("lang"), lit("^[a-z]{2,3}$")),
        col("lang")),
      ("span_bounds",
        expr("exists(spans, s -> s.start < 0 OR s.end < s.start)") ||
          expr("exists(spans, s -> s.end > " +
            "octet_length(encode(text, 'UTF-16BE')) div 2)"),
        concat(lit("max_end="),
          expr("aggregate(spans, 0, (a, s) -> greatest(a, s.end))"),
          lit(" len16="), u16len)),
      ("span_order",
        // sequence(1, 0) is DESCENDING in Spark — guard size ≥ 2
        expr("size(spans) >= 2 AND exists(sequence(1, size(spans) - 1)," +
          " i -> spans[i].start < spans[i-1].end)"),
        to_json(col("spans"))),
      ("nfkc_idempotent", nfkcDrifts(col("text")),
        substring(col("text"), 1, 80)))
    // the outline invariants apply when the table carries the headings
    // column (older/narrower producers are still auditable without it):
    // levels are 1..6 by construction (hN tags), and every kept heading
    // is a kept BLOCK, so its text appears verbatim in the assembled text
    val headingChecks: Seq[(String, Column, Column)] =
      if (!out.columns.contains("headings")) Nil
      else Seq(
        ("heading_levels",
          expr("exists(headings, h -> h.level < 1 OR h.level > 6)"),
          to_json(col("headings"))),
        ("heading_in_text",
          expr("exists(headings, h -> NOT contains(text, h.text))"),
          to_json(col("headings"))))
    val arr = array((checks ++ headingChecks).map { case (name, cond, detail) =>
      when(cond, struct(lit(name).as("invariant"),
        detail.cast("string").as("detail"))).otherwise(lit(null))
    }: _*)
    out.select(col("url"), explode(filter(arr, _.isNotNull)).as("v"))
      .select(col("url"), col("v.invariant").as("invariant"),
        col("v.detail").as("detail"))
  }

  /** Audit summary: (rows checked, violation rows collected — capped).
    * The cap bounds the driver pull; the count is exact. `out` is
    * persisted for the audit's two actions (row count + violation scan)
    * — without the barrier an expensive upstream (the full extraction
    * in Verify's sweep) would run twice. */
  def audit(out: DataFrame, cap: Int = 20): (Long, Long, Seq[String]) = {
    val o = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = violations(o)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = o.count()
      val n = v.count()
      val sample = v.orderBy("url", "invariant").limit(cap).collect()
        .map(r => s"${r.getString(1)} url=${r.getString(0)} " +
          s"detail=${r.getString(2)}").toSeq
      (rows, n, sample)
    } finally { v.unpersist(); o.unpersist(); () }
  }
}

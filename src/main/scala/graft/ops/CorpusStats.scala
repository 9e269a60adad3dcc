package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level statistics and passage-grain deduplication for the
  * training-data pipeline — the document-INTERNAL repetition signals
  * (Gopher-style quality rules) and the corpus-WIDE repeated-passage
  * removal (CCNet-style paragraph dedup) that sit alongside the
  * document-grain operators in `Dedup`.
  *
  * Everything here is pure Catalyst builtins (split / transform /
  * array_distinct / md5) — no UDF, fully codegen'd, and every fraction is
  * computed in INTEGER arithmetic (milli-units via integer division,
  * widened to BIGINT before multiplying — non-ANSI INT×INT wraps
  * silently on multi-million-word documents) so the DuckDB oracle
  * reproduces values bit-exactly with no float-rounding hazard.
  *
  * Persist barriers here follow the same lifetime contract documented at
  * Cap.window: the barrier must outlive the returned
  * lazy DataFrame, eviction degrades by LRU/spill, and at warehouse
  * scale each barrier is a written table, not an RDD cache.
  */
object CorpusStats {

  /** Operator-salted 32-bit sampling coin: the first 8 md5 hex digits
    * of '<salt>:<id>' as a bigint in [0, 2^32). ONE owner of the coin
    * algebra every threshold sampler draws from ([[weightedSample]],
    * [[graft.ops.Lm.tierSample]]); the DuckDB twin is
    * `('0x' || substring(md5('<salt>:' || CAST(id AS VARCHAR)), 1, 8))
    * ::BIGINT`. Distinct salts make composed samplers select
    * independently — editing the width or salt format in one site
    * without the others (or their oracle twins) would silently
    * re-correlate them. */
  def coin32(salt: String, idCol: String): org.apache.spark.sql.Column =
    expr(s"cast(conv(substring(md5(concat('$salt:', cast($idCol as string))), 1, 8), 16, 10) as bigint)")

  /** Whitespace tokens, empties dropped — mirrors DuckDB
    * list_filter(string_split(text, ' '), x -> x != ''). Shared owner:
    * [[TextGrams]] (Bloom/CountMin must hash identical tokens). */
  private def wordsExpr(textCol: String) = TextGrams.wordsExpr(textCol)

  /** Per-document repetition signals (Gopher repetition rules, public:
    * Rae et al. 2021 §A1.1 "repetition removal" — fraction of duplicate
    * n-grams): exact word/bigram counts and their distinct counts, plus a
    * milli-quantized duplicate-word fraction.
    *
    * 100 TB shape: a NARROW projection — one pass per row, no shuffle at
    * all; the signals land next to the doc and feed a filter predicate.
    * The guard on size(ws) >= 2 matters: sequence(1, 0) in Spark is the
    * DESCENDING [1, 0], not empty. */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"))
      .withColumn("bg", expr(
        """case when size(ws) >= 2
             then transform(sequence(1, size(ws) - 1),
                            i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))
             else cast(array() as array<string>) end"""))
      .select(
        col("doc_id"),
        nWords,
        expr("cast(size(array_distinct(ws)) as bigint)").as("n_distinct_words"),
        expr("cast(size(bg) as bigint)").as("n_bigrams"),
        expr("cast(size(array_distinct(bg)) as bigint)").as("n_distinct_bigrams"),
        dupWordMilli)

  /** English stopword markers for the ratio signal — THE source of truth
    * is TextStats.stopwords("eng"); referenced (sorted for a stable SQL
    * literal) so the scalar kernel and this operator can never diverge. */
  val stopwordList: Seq[String] = TextStats.stopwords("eng").toSeq.sorted

  // The per-document signal columns, each spelled ONCE: the module
  // operators and [[signalsFused]] select these same expressions over a
  // (doc_id, ws = words, t = text) projection, so the fused vector
  // cannot drift from the modules. Every fraction is an integer
  // milli-fraction: exact in any engine, no IEEE hazard.
  private val nWords = expr("cast(size(ws) as bigint)").as("n_words")
  private val dupWordMilli = expr("(1000L * cast(size(ws) - size(array_distinct(ws)) as bigint)) div greatest(cast(size(ws) as bigint), 1L)")
    .as("dup_word_milli")
  private val stopwordMilli = {
    val sw = stopwordList.map(w => s"'$w'").mkString(", ")
    expr(s"(1000L * cast(size(filter(ws, w -> lower(w) in ($sw))) as bigint)) div greatest(cast(size(ws) as bigint), 1L)")
      .as("stopword_milli")
  }
  private val nonalnumMilli = expr("(1000L * cast(length(regexp_replace(t, '[a-zA-Z0-9 ]', '')) as bigint)) div greatest(cast(length(t) as bigint), 1L)")
    .as("nonalnum_milli")
  private val nSentences =
    expr("cast(regexp_count(t, '[.!?]+') as bigint)").as("n_sentences")
  private val nSyllables = expr("aggregate(ws, 0L, (acc, w) -> acc + " +
    "greatest(1L, cast(regexp_count(lower(w), '[aeiouy]+') as bigint)))")
    .as("n_syllables")
  // the Flesch chain over the three counts above
  private val wpsMilli =
    expr("(1000L * n_words) div greatest(n_sentences, 1L)").as("wps_milli")
  private val spwMilli =
    expr("(1000L * n_syllables) div greatest(n_words, 1L)").as("spw_milli")
  private val fleschMilli = expr("206835L - (1015L * wps_milli) div 1000L" +
    " - (84600L * spw_milli) div 1000L").as("flesch_milli")

  /** The (doc_id, ws, t) projection every signal column reads. */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"),
      col(textCol).as("t"))

  /** Per-document quality-signal ratios (the length/punct/stopword family
    * of training-data filters, à la C4/Gopher quality rules), as exact
    * integer milli-units:
    *  - stopword_milli: fraction of words that are (case-folded) English
    *    stopword markers;
    *  - nonalnum_milli: fraction of characters outside [A-Za-z0-9 ]. The
    *    ASCII class is deliberate — Unicode letter classes differ across
    *    engines, so this is the determinism-safe "punctuation-ish" proxy;
    *    non-ASCII text scores high by design and should be routed by
    *    langId, not this filter.
    * Narrow builtins projection — zero shuffle, codegen'd. */
  def qualitySignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(docs, idCol, textCol)
      .select(col("doc_id"), nWords, stopwordMilli, nonalnumMilli)

  /** Flesch reading-ease readability signal [public technique: Flesch
    * 1948, as standardized in Kincaid et al. 1975], in exact integer
    * milli-units so the DuckDB oracle replays it bit-for-bit.
    *
    * Syllables use the standard vowel-run heuristic — count of [aeiouy]+
    * runs per case-folded word, minimum 1 (silent-e/diphthong corrections
    * vary by implementation; the plain run count is pinned HERE as the
    * operator contract). Sentences = runs of [.!?], minimum 1 in the
    * ratio. score_milli = 206835 − 1015·wps_milli/1000 −
    * 84600·spw_milli/1000 with every ratio truncated at milli precision
    * (`div` ≡ DuckDB `//`, toward zero — all operands non-negative).
    * Like the other quality signals this is a routing SIGNAL for
    * downstream filters/tiers, not a verdict.
    *
    * 100 TB shape: one narrow builtins projection — zero shuffle, whole
    * expression codegen'd (regexp_count + an aggregate HOF per row). */
  def readability(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(docs, idCol, textCol)
      .select(col("doc_id"), nWords, nSentences, nSyllables)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"), wpsMilli, spwMilli)
      .select(col("*"), fleschMilli)

  /** Rule-based sentence segmentation: one row per sentence-ish chunk,
    * split where runs of [.!?] end, with the terminator run attached to
    * its sentence ('[^.!?]+[.!?]*' over the raw text — the same
    * [.!?]-run notion [[readability]] counts, so the two signals agree
    * on what a sentence is). Leading orphan terminator runs belong to no
    * sentence (the regex needs ≥1 non-terminator char to open a match);
    * chunks that trim to '' keep their slot (sent_idx stays the match
    * ordinal, a stable offset into the doc). Abbreviation/decimal-point
    * handling is out of scope — this is the deterministic segmentation
    * grain for downstream dedup/stats, not a linguistic segmenter.
    *
    * Output: (doc_id, sent_idx, sentence, n_words).
    *
    * 100 TB shape: one narrow extract + explode — zero shuffle; row
    * count is bounded by total corpus chars. */
  def sentences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      expr(s"regexp_extract_all($textCol, '[^.!?]+[.!?]*', 0)").as("ss"))
      .select(col("doc_id"), posexplode(col("ss")).as(Seq("sent_idx", "s")))
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
        trim(col("s")).as("sentence"),
        expr("cast(size(filter(split(trim(s), ' '), x -> x != '')) as bigint)")
          .as("n_words"))

  /** The passage-grain view shared by [[passageDedup]] (stats) and
    * [[passageDedupClean]] (transform): one row per non-overlapping
    * `w`-word passage, (doc_id, pos, p, h). Trailing words that don't
    * fill a window are NOT passages (see tailExpr). */
  private def passages(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame =
    passageUnits(docs, idCol, textCol, w).filter(!col("is_tail"))
      .select("doc_id", "pos", "p", "h")

  /** The ceil-window unit list over a tokenized `ws` column: ceil(n/w)
    * `w`-word windows, the last one the sub-window tail when n % w != 0.
    * ONE owner for the window algebra ([[passageUnits]] and
    * [[passageDedupInDoc]] both consume it) — a private copy drifting in
    * either would let in-doc and corpus-wide dedup silently disagree on
    * what a passage is. The `size(ws) >= 1` guard matters: sequence(0,
    * -1) is the DESCENDING [0, -1], not empty. */
  private[graft] def ceilUnitsSql(w: Int): String =
    s"""case when size(ws) >= 1
          then transform(sequence(0, (size(ws) + $w - 1) div $w - 1),
                         i -> array_join(slice(ws, i * $w + 1, $w), ' '))
          else cast(array() as array<string>) end"""

  /** ONE tokenize+explode pass emitting every passage unit of a doc:
    * ceil(n/w) units — the full `w`-word windows plus (when n % w != 0)
    * the sub-window tail as the last unit, flagged `is_tail`. The tail
    * is not a dedup unit (both consumers treat it specially), but
    * emitting it here means the clean transform never re-scans and
    * re-tokenizes the corpus a second time just to recover tails. */
  private def passageUnits(docs: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame =
    Par.spread(docs
      .select(col(idCol).as("doc_id"), col(textCol).as("pu_text")), "doc_id")
      .select(col("doc_id"), wordsExpr("pu_text").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n"),
        posexplode(expr(ceilUnitsSql(w))))
      .select(col("doc_id"), col("pos"), col("col").as("p"),
        md5(col("col").cast("binary")).as("h"),
        (col("n") % w =!= 0 && col("pos") === expr(s"n div $w"))
          .as("is_tail"))

  /** The corpus-wide keep-first decision shared by [[passageDedup]] and
    * [[passageDedupClean]] — ONE definition so the stats and the
    * transform can never silently disagree: per hash, the occurrence
    * count and the first occurrence (lowest (doc_id, pos) struct min —
    * exact at any document size, no key packing). */
  private def passageGroups(pass: DataFrame): DataFrame =
    pass.groupBy("h").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("first"))

  private def isFirstOccurrence: org.apache.spark.sql.Column =
    col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")

  /** Corpus-wide passage dedup stats (CCNet-style, public: Wenzek et al.
    * 2020 §3.1 dedups by paragraph hash across the whole crawl). The unit
    * here is a non-overlapping `windowWords`-word passage (this corpus has
    * no newlines; real crawls would use paragraphs). For each document:
    * how many passages it has, how many are duplicated ANYWHERE in the
    * corpus, and how many would be removed under keep-first-occurrence
    * (first = lowest (doc_id, pos), tracked as a struct min — exact at any
    * document size, no key packing).
    *
    * 100 TB shape: passages reduce to 32-char md5 keys immediately — the
    * corpus-wide count/argmin is a two-phase hash aggregation on those
    * keys (map-side partial combine absorbs within-partition repeats), the
    * join back is hash-partitioned on the same key (text never moves), and
    * the final per-doc rollup shuffles one row per passage. Hot passages
    * (the corpus-wide boilerplate this operator exists to find) are
    * SAFE-skewed: the aggregation side collapses them map-side, and the
    * join fans the single (h, cnt, first) row back out — no bucket
    * blowup, because we never self-join passages against each other.
    *
    * Row contract: one row per document that carries ≥ 1 FULL
    * `windowWords`-word passage; a doc shorter than one window has no
    * passage units and emits NO row (same convention as
    * `passageDedupClean`'s documented no-op case) — left-join the stats
    * back if absent-means-zero semantics are needed downstream. */
  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 4): DataFrame = {
    val pass = passages(docs, idCol, textCol, windowWords)
      .select("doc_id", "pos", "h") // passage strings pruned: stats are hash-only
      // persist barrier: `pass` feeds BOTH the corpus-wide aggregation and
      // the join back — without it Catalyst re-inlines the scan+split+md5
      // subtree into both sides (double text read, double hashing). At
      // warehouse scale this is a materialized passage-hash table (write
      // once, aggregate and join against it).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pass.join(passageGroups(pass), Seq("h"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("cnt") > 1 && !isFirstOccurrence, 1L).otherwise(0L))
          .as("n_removed"))
  }

  /** The actual CCNet-style TRANSFORM: remove every passage that is a
    * non-first duplicate of a passage seen anywhere in the corpus, then
    * reassemble each document's surviving passages in order. Trailing
    * words that don't fill a window are NOT dedup units — they are always
    * kept and re-appended after the surviving passages, so the transform
    * loses no content except removed duplicates (documents whose every
    * passage was removed and that have no tail emit no row). Returns
    * (doc_id, n_kept, clean_text) where n_kept counts kept units
    * (passages + the tail, if any).
    *
    * Composition is the point: the keep-decision is the same
    * two-phase-agg + hash-join shape as [[passageDedup]], and the ordered
    * reassembly reuses [[OrderedMerge.concatOrdered]] — the skew-safe
    * sort-based streaming concat (no per-doc collect_list buffer), with
    * pos zero-padded so its string order equals its numeric order (9
    * digits = 10^9 units per document, orders of magnitude beyond any web
    * page). */
  def passageDedupClean(docs: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 4): DataFrame = {
    val w = windowWords
    // ONE scan: full windows AND the sub-window tail come out of the
    // same explode (passageUnits) — no second tokenize pass for tails
    val allUnits = passageUnits(docs, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pass = allUnits.filter(!col("is_tail"))
    val kept = pass.join(passageGroups(pass), Seq("h"))
      .filter(col("cnt") === 1 || isFirstOccurrence)
      .select("doc_id", "pos", "p")
    // the tail is always kept (it is not a dedup unit), positioned after
    // the last full passage by construction
    val tails = allUnits.filter(col("is_tail")).select("doc_id", "pos", "p")
    val units = kept.unionAll(tails)
      .withColumn("pos_pad", lpad(col("pos").cast("string"), 9, "0"))
    // concatOrdered preserves the id column's native type — no numeric
    // round-trip, so opaque string ids flow through unharmed
    OrderedMerge.concatOrdered(units, "doc_id", "pos_pad", "p", " ",
        nName = "n_kept", mergedName = "clean_text")
  }

  /** IN-DOCUMENT repeated-passage removal (the within-page half of the
    * repetition story; public: Rae et al. 2021 §A1.1 removes documents
    * with high duplicate-n-gram fractions, Penedo et al. 2023 §4.2
    * REMOVES the repeated spans instead — this is that transform at the
    * passage grain). Keep the FIRST in-document occurrence of each
    * `windowWords`-word passage, drop later repeats; duplicates ACROSS
    * documents are untouched (that is [[passageDedupClean]]'s job, a
    * corpus-wide decision). The sub-window tail can never collide with a
    * full window (fewer words), so the plain first-occurrence filter
    * keeps it automatically.
    *
    * 100 TB shape: the keep decision needs only the row it is deciding
    * about, so this is ONE narrow projection — zero shuffle, no join, no
    * aggregation; it composes with [[passageDedupClean]] without adding
    * an exchange. The keep-first scan is an `aggregate` accumulating the
    * kept prefix (`array_contains` + `array_append`) — O(units²)
    * worst-case per document, bounded by page size (a 100 KB page is
    * ~2.5k units). MEASURED choice (A/B at sf0.1, BENCH/BASELINE.md): the
    * equivalent `filter(us, (x, i) -> array_position(us, x) = i + 1)`
    * runs 13× SLOWER (6.4 s vs 0.50 s) — the indexed-lambda HOF path is
    * interpreted per element; don't "simplify" back to it. */
  def passageDedupInDoc(docs: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 4): DataFrame = {
    val w = windowWords
    // NO input spread: this operator's whole contract is zero-shuffle
    // (the keep decision never leaves the row), and adding the spread
    // exchange benched at +0.16 s (r06) for ~230 ms of single-task work
    docs
      .select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"))
      // shared ceil-window owner (ceilUnitsSql) — the tail IS a unit
      // here, it just can't be a repeat (fewer words than any window)
      .select(col("doc_id"), expr(ceilUnitsSql(w)).as("us"))
      .select(col("doc_id"),
        expr("""aggregate(us, cast(array() as array<string>),
                  (acc, x) -> CASE WHEN array_contains(acc, x) THEN acc
                              ELSE array_append(acc, x) END)""")
          .as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** C4-style document quality filter: compose the signal family into one
    * keep/reject decision with a TYPED reason (first failing rule in fixed
    * order — the same never-drop-silently discipline as the extraction
    * outcomes). Rules: minimum word count, duplicate-word fraction cap,
    * stopword-fraction band (too low = not prose, too high = filler).
    *
    * 100 TB shape: ONE fused narrow projection — all signals computed in
    * the same pass over the row, no join between signal operators, no
    * shuffle at all; rows are never dropped (kept=false flows through), so
    * the downstream writer decides what to materialize. */
  /** Windowed type-token ratio — lexical diversity measured per
    * fixed-size word window and averaged, the length-unbiased form of
    * raw TTR (raw distinct/total falls with document length for purely
    * statistical reasons; fixing the window makes scores comparable
    * across lengths — the idea behind MTLD/MSTTR in the lexical-
    * diversity literature). Only FULL `w`-word windows count (the
    * passage-dedup convention); docs shorter than one window score 0
    * with 0 windows — absence of evidence, visibly flagged.
    * ttr_milli = 1000 · Σ distinct(window) / (n_windows · w), exact.
    *
    * 100 TB shape: one narrow codegen'd projection (higher-order array
    * ops per row) — no shuffle, no join. */
  def windowedTtr(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 50): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        wordsExpr(textCol).as("ws"))
      .select(col("doc_id"), expr(
        s"""case when size(ws) >= $w
              then transform(sequence(0, size(ws) div $w - 1),
                             i -> size(array_distinct(slice(ws, i * $w + 1, $w))))
              else cast(array() as array<int>) end""").as("ds"))
      .select(col("doc_id"),
        expr("cast(size(ds) as bigint)").as("n_windows"),
        expr(s"(1000L * aggregate(ds, 0L, (a, x) -> a + x))" +
          s" div greatest(cast(size(ds) as bigint) * $w, 1L)")
          .as("ttr_milli"))

  /** N-gram NOVELTY — how much of a document is first-seen vs already
    * in the corpus before it (by doc_id order): the per-doc fraction of
    * DISTINCT word `n`-grams whose corpus-wide FIRST occurrence (min
    * doc_id) is this document. Low novelty = the doc restates earlier
    * content — the document-grain cousin of the substring-dedup signal,
    * and the memorization-risk proxy corpus audits track. Grams are
    * [[TextGrams.wordGramsExpr]] md5s, the same algebra decontamination
    * probes with.
    *
    * 100 TB shape: the corpus reduces once to a DISTINCT (doc_id, gram)
    * grain of 32-char keys (persisted — it feeds the min-doc argmin AND
    * the join-back, the signature-table rule); both exchanges move
    * compact hashes, text never joins. Docs with < n words emit zeros
    * via the final left join. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val grain = docs
      .select(col(idCol).cast("long").as("doc_id"),
        wordsExpr(textCol).as("ws"))
      .select(col("doc_id"), explode(wordGramsExpr(n)).as("gh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = grain.groupBy("gh").agg(min("doc_id").as("first"))
    val per = grain.join(first, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("(1000 * coalesce(n_novel, 0L))" +
          " div greatest(coalesce(n_grams, 0L), 1L)").as("novelty_milli"))
  }

  /** Data-selection importance SHIFT [public technique: Xie et al.
    * 2023 (DSIR) weight documents by hashed-n-gram importance under a
    * target vs source distribution]: each word hashes to one of
    * `buckets` md5 buckets; the corpus (source) and a target SUBSET of
    * it each induce a bucket frequency in ppm, and a document scores
    * the mean (target − source) ppm over its word occurrences —
    * positive means "more like the target than the corpus". This is
    * the exact-integer LINEAR surrogate of DSIR's log-ratio weights
    * (no float log both engines share; ORDER of documents under the
    * score is the useful output, as with the rank-style operators).
    *
    * `targetIds` must be one `doc_id` column selecting the target
    * slice — DSIR's external target corpus is modeled here as a
    * subset (e.g. the head quality tier), which keeps ONE word grain
    * for both distributions.
    *
    * 100 TB shape: the corpus reduces to a (doc_id, bucket, tf) grain
    * once (persisted — it feeds the source counts, the target
    * semi-join, and the score join-back); both distributions are
    * ≤`buckets` rows and BROADCAST back onto the grain, so the only
    * corpus-sized exchanges are the grain aggregation and the per-doc
    * rollup of compact integer rows. */
  def importanceShift(docs: DataFrame, idCol: String, textCol: String,
      targetIds: DataFrame, buckets: Int = 4096): DataFrame = {
    val grain = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(wordsExpr(textCol)).as("w"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)" +
          s" % $buckets").as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sc = grain.groupBy("b").agg(sum("tf").as("sc"))
    val st = grain.agg(coalesce(sum("tf"), lit(0L)).as("st"))
    val tc = grain
      .join(targetIds.select(col("doc_id").cast("long").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .groupBy("b").agg(sum("tf").as("tc"))
    val tt = tc.agg(coalesce(sum("tc"), lit(0L)).as("tt"))
    val bt = sc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(st)).crossJoin(broadcast(tt))
      .select(col("b"),
        expr("(1000000 * coalesce(tc, 0L)) div greatest(tt, 1L)")
          .as("t_ppm"),
        expr("(1000000 * sc) div greatest(st, 1L)").as("s_ppm"))
    val per = grain.join(broadcast(bt), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_words"),
        sum(expr("tf * (t_ppm - s_ppm)")).as("ssum"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(expr("ssum div greatest(n_words, 1L)"), lit(0L))
          .as("shift_ppm"))
  }

  /** Gopher-style rule bundle [public technique: Rae et al. 2021
    * (Gopher) Table A1 quality heuristics — the standard pre-LM web
    * filter]: word-count bounds, mean-word-length bounds, alphabetic-
    * word ratio, symbol-to-word ratio ('#' and '…' spelled '...'), and
    * required distinct stopwords, each in exact milli arithmetic. The
    * line-shaped Gopher rules (bullet/ellipsis line starts) need
    * newlines this corpus doesn't have and are out of scope. Verdict =
    * FIRST failing rule in the documented order (word_count →
    * word_length → alpha_ratio → symbol_ratio → stopwords), so a doc
    * failing several reports deterministically. Gopher's own stopword
    * bar is 2 distinct; `minStopDistinct` parameterizes it (this
    * corpus draws from a vocabulary where 2 would reject everything —
    * callers pick the bar, the rule machinery is what's pinned).
    *
    * 100 TB shape: one narrow codegen'd projection — no shuffle, no
    * join, no window; every signal derives from one tokenize pass. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minWordLenMilli: Long = 3000L, maxWordLenMilli: Long = 10000L,
      minAlphaMilli: Long = 800L, maxSymbolMilli: Long = 100L,
      minStopDistinct: Long = 1L): DataFrame = {
    val sw = "'the','be','to','of','and','that','have','with'"
    docs.select(col(idCol).cast("long").as("doc_id"),
      wordsExpr(textCol).as("ws"), col(textCol).as("t"))
      .select(col("doc_id"),
        expr("cast(size(ws) as bigint)").as("n_words"),
        expr("(1000L * aggregate(ws, 0L, (a, w) -> a + length(w)))" +
          " div greatest(cast(size(ws) as bigint), 1L)")
          .as("word_len_milli"),
        expr("(1000L * cast(size(filter(ws, w -> w rlike '[A-Za-z]')) as bigint))" +
          " div greatest(cast(size(ws) as bigint), 1L)").as("alpha_milli"),
        // '...' occurrences via non-overlapping replace (both engines
        // scan greedy left-to-right) — count = removed length div 3
        expr("(1000L * (cast(length(t) - length(replace(t, '#', '')) as bigint)" +
          " + cast(length(t) - length(replace(t, '...', '')) as bigint) div 3))" +
          " div greatest(cast(size(ws) as bigint), 1L)").as("symbol_milli"),
        expr(s"cast(size(array_intersect(array_distinct(" +
          s"transform(ws, w -> lower(w))), array($sw))) as bigint)")
          .as("n_stop"))
      .withColumn("reject_reason",
        when(col("n_words") < minWords || col("n_words") > maxWords,
          "word_count")
          .when(col("word_len_milli") < minWordLenMilli
            || col("word_len_milli") > maxWordLenMilli, "word_length")
          .when(col("alpha_milli") < minAlphaMilli, "alpha_ratio")
          .when(col("symbol_milli") > maxSymbolMilli, "symbol_ratio")
          .when(col("n_stop") < minStopDistinct, "stopwords")
          .otherwise(""))
      .withColumn("kept", col("reject_reason") === "")
  }

  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10, maxDupMilli: Int = 300,
      minStopMilli: Int = 5, maxStopMilli: Int = 600): DataFrame =
    withQualityDecision(
      docs.select(col(idCol).as("doc_id"), col(textCol)),
      textCol, minWords, maxDupMilli, minStopMilli, maxStopMilli)
      .select("doc_id", "n_words", "dup_word_milli", "stopword_milli",
        "reject_reason", "kept")

  /** Length-distribution OUTLIER flags via Tukey's fences [public
    * technique: Tukey 1977 box-plot fences, the standard robust outlier
    * rule — RefinedWeb-style cleaning drops documents with anomalous
    * length]: a doc is an outlier when its token count falls outside
    * [q1 − 1.5·IQR, q3 + 1.5·IQR]. Exact integer arithmetic: quantiles
    * are lower nearest-rank (value at rank 1 + (n−1)·q, the same
    * definition agg_quantiles pins), 1.5·IQR is (3·IQR) div 2 — both
    * engines truncate toward zero.
    *
    * 100 TB shape: the same histogram reduction as Lm.qualityTiers —
    * the corpus collapses to a (n_tokens, count) table bounded by the
    * VALUE range, the single-partition cum window runs over that tiny
    * table only, and the verdict is a broadcast of the 1-row fence
    * table onto a narrow projection. The scored table persists once
    * (feeds the histogram AND the verdict join — the signature-table
    * rule). */
  def signalOutliers(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val scored = docs
      .select(col(idCol).cast("long").as("doc_id"),
        size(wordsExpr(textCol)).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cum, n) = ValueHist.cumAndTotal(scored, "n_tokens")
    val fences = cum.crossJoin(broadcast(n))
      .agg(
        min(when(col("cum") >= lit(1) + expr("(n - 1) div 4"),
          col("n_tokens"))).as("q1"),
        min(when(col("cum") >= lit(1) + expr("(3 * (n - 1)) div 4"),
          col("n_tokens"))).as("q3"))
      .select(col("q1"), col("q3"),
        expr("q1 - (3 * (q3 - q1)) div 2").as("lo"),
        expr("q3 + (3 * (q3 - q1)) div 2").as("hi"))
    scored.crossJoin(broadcast(fences))
      .select(col("doc_id"), col("n_tokens"), col("lo"), col("hi"),
        (col("n_tokens") < col("lo") || col("n_tokens") > col("hi"))
          .as("outlier"))
  }

  /** The quality-decision algebra as an ADD-columns transform (keeps the
    * caller's columns, so a caller can carry the text alongside the
    * verdict). [[qualityFilter]], whose DuckDB oracle pins the algebra,
    * projects its verdict columns. Appends n_words / dup_word_milli /
    * stopword_milli / reject_reason / kept. */
  def withQualityDecision(docs: DataFrame, textCol: String,
      minWords: Int = 10, maxDupMilli: Int = 300,
      minStopMilli: Int = 5, maxStopMilli: Int = 600): DataFrame = {
    val sw = stopwordList.map(w => s"'$w'").mkString(", ")
    // the tokenized intermediate gets a collision-proof name: a caller
    // column named plain `ws` (the repo's usual words-column name) must
    // survive the transform; the five OUTPUT columns do overwrite
    val W = "__quality_ws"
    docs
      .withColumn(W, wordsExpr(textCol))
      .withColumn("n_words", expr(s"cast(size($W) as bigint)"))
      .withColumn("dup_word_milli",
        expr(s"(1000L * cast(size($W) - size(array_distinct($W)) as bigint)) div greatest(cast(size($W) as bigint), 1L)"))
      .withColumn("stopword_milli",
        expr(s"(1000L * cast(size(filter($W, w -> lower(w) in ($sw))) as bigint)) div greatest(cast(size($W) as bigint), 1L)"))
      .drop(W)
      .withColumn("reject_reason",
        // null text first: size(null)=null would skip every threshold
        // branch and silently mark a poison row KEPT — the one verdict
        // a quality gate must never hand a null document
        when(col(textCol).isNull, "null_text")
          .when(col("n_words") < minWords, "too_few_words")
          .when(col("dup_word_milli") > maxDupMilli, "too_repetitive")
          .when(col("stopword_milli") < minStopMilli, "too_few_stopwords")
          .when(col("stopword_milli") > maxStopMilli, "too_many_stopwords"))
      .withColumn("kept", col("reject_reason").isNull)
  }

  /** Token-budget shard packing: assign documents (in doc-id order) to
    * consecutive training shards of ~`shardTokens` whitespace tokens each —
    * shard_id = the shard containing the document's START offset in the
    * corpus-wide token stream. The standard "pack the corpus into N-token
    * training files" step.
    *
    * 100 TB shape: a corpus-wide running sum CANNOT be one global window
    * (that is a single-partition sort of every row). Two-phase prefix sum
    * instead: docs bucket by id range; per-bucket token sums aggregate
    * two-phase (tiny result: one row per `bucketSize` docs); the running
    * bucket offsets need a global window over only those rows (10^12 docs
    * / 10^5-doc buckets = 10^7 rows — trivially one executor); offsets
    * broadcast-join back; the within-bucket running sum is a window
    * PARTITIONED by bucket — bounded work per partition, fully parallel.
    * Every sum is integer-exact, so the oracle reproduces it with one
    * plain window. */
  def shardByTokenBudget(docs: DataFrame, idCol: String, textCol: String,
      shardTokens: Long, bucketSize: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"))
      .select(col("doc_id"), expr("cast(size(ws) as bigint)").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div $bucketSize"))
      // persist barrier: `t` feeds both the offsets aggregation and the
      // join probe — without it the source scan + tokenization runs twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offsets = t.groupBy("bucket").agg(sum("n_tokens").as("bsum"))
      .withColumn("offset", coalesce(
        sum(col("bsum")).over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    t.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_tokens", col("offset") +
        // explicit ROWS frame: the default RANGE frame would lump rows
        // tied on doc_id together, diverging from the oracle's
        // ROWS UNBOUNDED PRECEDING on duplicate-id inputs
        sum(col("n_tokens")).over(
          Window.partitionBy("bucket").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        expr(s"(cum_tokens - n_tokens) div $shardTokens").as("shard_id"))
  }

  /** Corpus vocabulary top-k: (token, count) ordered by count desc then
    * token asc — a total order, so the result is deterministic.
    *
    * 100 TB shape: the classic two-phase aggregation — map-side partial
    * hash agg collapses each partition's token counts before the shuffle
    * (the shuffle carries at most |vocab| rows per partition, not one row
    * per token OCCURRENCE), then TakeOrderedAndProject computes the global
    * top-k with per-partition partial top-k — no full sort of the
    * vocabulary ever materializes. */
  def vocabTopK(docs: DataFrame, textCol: String, k: Int = 100): DataFrame =
    docs
      .select(explode(wordsExpr(textCol)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Vocabulary COVERAGE curve — the tokenizer-design question "what
    * fraction of token occurrences does a top-K vocabulary cover"
    * (OOV rate = 1 − coverage), answered EXACTLY without ever ranking
    * the vocabulary: reduce token counts to a count-of-counts
    * histogram (c, m) — m tokens occur exactly c times — and resolve
    * each K against the histogram's cumulative (ranks_before,
    * occ_before) ordered by c desc. Tokens tied on c are
    * interchangeable for coverage, so the K-th rank inside a tie
    * group contributes (K − ranks_before)·c occurrences exactly. A K
    * beyond the vocabulary covers everything.
    *
    * 100 TB shape: the token count table is Heaps-law sublinear, and
    * the HISTOGRAM of counts is smaller still (distinct count values
    * are O(√Σc) by the counting bound) — the single-partition window
    * runs over that, never the vocabulary, and each K resolves via a
    * broadcast join against it. No global sort anywhere. */
  def vocabCoverage(docs: DataFrame, textCol: String,
      ks: Seq[Long] = Seq(100L, 1000L, 10000L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = docs.select(explode(wordsExpr(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
      // barrier: the histogram feeds the cum window AND the total agg
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.select(col("c"), col("m"),
      coalesce(sum("m").over(w), lit(0L)).as("ranks_before"),
      coalesce(sum(expr("c * m")).over(w), lit(0L)).as("occ_before"))
    val tot = hist.agg(
      coalesce(sum(expr("c * m")), lit(0L)).as("total"),
      coalesce(sum("m"), lit(0L)).as("vocab_size"))
    ks.toDF("k").crossJoin(broadcast(tot))
      .join(broadcast(cum),
        col("ranks_before") < col("k") &&
          col("k") <= col("ranks_before") + col("m"), "left")
      .select(col("k"), col("vocab_size"), col("total"),
        coalesce(col("occ_before") + (col("k") - col("ranks_before"))
          * col("c"), col("total")).as("covered"),
        expr("1000 * coalesce(occ_before + (k - ranks_before) * c, total)" +
          " div greatest(total, 1)").as("coverage_milli"))
  }

  /** Word n-gram hash list (md5 of the space-joined window, stride 1);
    * shared owner: [[TextGrams]] — Bloom's admissibility guarantee
    * (bloom_hits ≥ exact n_hits) requires both decontaminate forms to
    * hash the IDENTICAL grams. */
  private def wordGramsExpr(n: Int) = TextGrams.wordGramsExpr(n)

  /** Benchmark decontamination [public technique: Brown et al. 2020
    * (GPT-3) §C; Dodge et al. 2021 C4 analysis — remove training docs
    * sharing long n-grams with evaluation sets]: flag every document that
    * shares at least one `n`-word n-gram with the benchmark table. Rows
    * are never dropped — (doc_id, n_hits, contaminated) lands next to the
    * corpus so the removal policy stays a downstream filter.
    *
    * 100 TB shape: benchmark sets are tiny (MBs) next to the corpus, so
    * the distinct benchmark-gram hash set BROADCASTS and the corpus-side
    * probe is a map-side semi-join — no corpus shuffle; the only exchange
    * is the per-doc hit count re-aggregation. Gram hashes (16 bytes) move,
    * text never does. */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 8): DataFrame = {
    val docGrams = docs
      .select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"))
      .select(col("doc_id"), explode(wordGramsExpr(n)).as("gh"))
    val benchGrams = bench
      .select(wordsExpr(benchTextCol).as("ws"))
      .select(explode(wordGramsExpr(n)).as("gh"))
      .distinct()
    flagHits(docs, idCol, docGrams.join(broadcast(benchGrams), Seq("gh"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gh")).as("n_hits")))
  }

  /** The decontamination output contract both forms share: every input
    * doc as (doc_id, n_hits, contaminated), zero hits when `hits` (per-doc
    * `n_hits`) has no row for it — rows are never dropped. */
  private def flagHits(docs: DataFrame, idCol: String,
      hits: DataFrame): DataFrame =
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))

  /** Character-level decontamination — the exact-substring twin of
    * [[decontaminate]] [public technique: Lee et al. 2021 §4 run exact
    * substring matching where word n-grams miss — tokenization-robust
    * leaks (joined words, punctuation drift) still share raw character
    * windows]: flag every document sharing at least one exact
    * `minLen`-char substring with the benchmark table. Same output
    * contract as [[decontaminate]] (rows never dropped).
    *
    * 100 TB shape: same broadcast-probe shape — the distinct benchmark
    * char-gram set is benchmark-sized, the corpus side is a map-side
    * semi-probe over per-doc DISTINCT gram hashes (the in-doc distinct
    * compresses repeated windows before the only exchange, the per-doc
    * hit recount). Windows are keyed by [[TextGrams.charGramsExpr]],
    * the same 16-byte key substring dedup uses. */
  def decontaminateSubstring(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, benchTextCol: String,
      minLen: Int = 40): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    def grams(df: DataFrame, tc: String) = df
      .filter(length(col(tc)) >= minLen)
      .withColumn("gh", explode(TextGrams.charGramsExpr(tc, minLen)))
    val docGrams = grams(
      docs.select(col(idCol).as("doc_id"), col(textCol)), textCol)
      .select(col("doc_id"), col("gh")).distinct()
    val benchGrams = grams(
      bench.select(col(benchTextCol).as("btext")), "btext")
      .select(col("gh")).distinct()
    flagHits(docs, idCol, docGrams.join(broadcast(benchGrams), Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))) // grams already doc-distinct
  }

  /** Deterministic per-group quota sampling — the domain-mixing primitive
    * (hold each group to a target fraction of its rows, e.g. language or
    * source-domain proportions for a training mix): rank rows inside each
    * group by md5(id) (id tie-break) and keep the first ceil(frac·n).
    * Hash-ranked selection is a pure function of the input set — no RNG,
    * reproducible under any partitioning, and the quota is met EXACTLY
    * (unlike hash-threshold sampling, which is only exact in expectation).
    * Rows are never dropped: `kept` is a column.
    *
    * 100 TB shape: one shuffle on the group key + in-partition sort.
    * Groups at corpus scale are large; when a single group outgrows a
    * partition comfortably, swap the rank for a two-pass hash-threshold
    * refinement (count → threshold bisect) — same determinism, no
    * per-group sort; the window form is the exact-quota baseline it
    * would be validated against. */
  def quotaSample(docs: DataFrame, idCol: String, groupCol: String,
      fracs: Map[String, Double], defaultFrac: Double): DataFrame = {
    // fractions quantized to EXACT milli-units: ceil in floating point
    // would violate the exact-quota contract (fl(100·fl(0.07)) = 7.0…01,
    // ceil → 8) and this file's integer-arithmetic invariant. Quota =
    // ceil(n·milli/1000) in pure integer arithmetic.
    def milli(f: Double): Long = math.round(f * 1000.0)
    val milliCol = fracs.foldLeft(lit(milli(defaultFrac))) {
      case (acc, (k, v)) => when(col(groupCol) === lit(k), lit(milli(v)))
        .otherwise(acc)
    }
    // operator-distinct salt: every sampler in this file draws its coin
    // from md5('<op>:' || id), so composing samplers (quota then
    // weighted, etc.) selects independently instead of re-selecting the
    // same md5(id)-lowest rows with fully correlated outcomes
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(md5(concat(lit("quota:"), col(idCol).cast("string"))),
        col(idCol))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    docs
      .select(col(idCol).as("doc_id"), col(groupCol))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("fm", milliCol)
      .select(col("doc_id"), col(groupCol),
        (col("rn") <= expr("(n * fm + 999L) div 1000L")).as("kept"))
  }

  /** Fused single-pass signal vector [public shape: RefinedWeb /
    * FineWeb pipelines compute the whole per-document signal vector in
    * one scan, then cut with one predicate — running each signal as
    * its own job re-reads and re-tokenizes the corpus once per
    * signal]. Selects the SAME signal columns as [[repetition]]
    * (dup_word_milli), [[qualitySignals]] (stopword_milli,
    * nonalnum_milli) and [[readability]] (flesch_milli) over one
    * tokenize pass. Two independent pins: the DuckDB oracle respells
    * every formula, and a SPEC asserts this fused output row-for-row
    * equals the JOIN of the three module operators.
    * `composite_milli` is a documented demo blend:
    * (stopword + (1000−nonalnum) + (1000−min(dup,1000)) ) div 3 —
    * monotone in each "good" direction, pinned here as the contract.
    *
    * 100 TB shape: one narrow codegen'd projection, zero shuffle —
    * four signal jobs' worth of scan+tokenize collapsed into one. */
  def signalsFused(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(docs, idCol, textCol)
      .select(col("doc_id"), nWords, dupWordMilli, stopwordMilli,
        nonalnumMilli, nSentences, nSyllables)
      .select(col("*"), wpsMilli, spwMilli)
      .select(col("*"), fleschMilli)
      .withColumn("composite_milli",
        expr("(stopword_milli + (1000L - nonalnum_milli)" +
          " + (1000L - least(dup_word_milli, 1000L))) div 3L"))
      .drop("n_sentences", "n_syllables", "wps_milli", "spw_milli")

  /** Per-document script mix — the mixed-script spam / wrong-decode
    * signal (a page claiming one language whose characters split
    * across scripts is mojibake or keyword stuffing; CCNet-era
    * pipelines gate on script coherence before language ID). Counts
    * per codepoint-RANGE class as integer milli shares of the
    * document's non-whitespace characters. Classes are spelled as
    * LITERAL character ranges (embedded via Scala unicode escapes) —
    * Java's `\\p{IsHan}` and RE2's `\\p{Han}` spellings differ, while
    * a literal `[一-鿿]` class parses identically in both engines:
    * latin [A-Za-z], cjk (unified ideographs + kana), cyrillic
    * U+0400-04FF, arabic U+0600-06FF; `other` is the remainder.
    * Whitespace includes the Unicode space separators (nbsp, en/em
    * spaces, U+3000) so CJK separator conventions don't dilute shares.
    * Count = length minus length-after-removal: one codegen'd
    * regexp_replace per class, zero shuffle. */
  def scriptMix(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def removed(cls: String) = length(t) - length(regexp_replace(t, cls, ""))
    val latin = removed("[A-Za-z]")
    val cjk = removed("[一-鿿぀-ヿ]")
    val cyr = removed("[Ѐ-ӿ]")
    val ar = removed("[؀-ۿ]")
    // whitespace covers the Unicode space separators CJK/typographic
    // text actually uses (U+00A0 nbsp, U+2000-200A, U+202F, U+205F,
    // U+3000 ideographic) — an all-CJK page separated by U+3000 must
    // not read as part-"other"
    val nonWs = length(t) - removed(
      "[ \\t\\n\\r\\f\u00A0\u2000-\u200A\u202F\u205F\u3000]")
    docs.select(col(idCol),
        nonWs.cast("long").as("n_chars"),
        latin.cast("long").as("n_latin"), cjk.cast("long").as("n_cjk"),
        cyr.cast("long").as("n_cyrillic"), ar.cast("long").as("n_arabic"))
      .withColumn("latin_milli", expr("(1000 * n_latin) div greatest(n_chars, 1)"))
      .withColumn("cjk_milli", expr("(1000 * n_cjk) div greatest(n_chars, 1)"))
      .withColumn("cyrillic_milli", expr("(1000 * n_cyrillic) div greatest(n_chars, 1)"))
      .withColumn("arabic_milli", expr("(1000 * n_arabic) div greatest(n_chars, 1)"))
      .withColumn("other_milli", expr(
        "(1000 * (n_chars - n_latin - n_cjk - n_cyrillic - n_arabic)) div greatest(n_chars, 1)"))
  }

  /** Per-host boilerplate share [public technique: CCNet (Wenzek 2020)
    * dedups paragraphs to strip site chrome; trafilatura/jusText treat
    * host-recurring blocks as template — here surfaced as a per-page
    * SIGNAL: the milli fraction of a page's passages that recur in ≥
    * `minDocs` DISTINCT pages of the SAME host. The reference twin is
    * the content-vs-chrome predicate (`_page_has_text`,
    * /root/reference/src/ocrmypdf/pdfinfo/info.py:420-442), lifted
    * from one page's geometry to the host corpus's repetition grain.
    * `urlCol` doubles as the page identity AND the host source
    * ([[Urls.hostOf]] on the grain — no doc→host join). Pages with no
    * full passage window are absent (the [[passageDedup]] contract).
    *
    * 100 TB shape: one tokenize+explode pass (persist barrier — the
    * grain feeds the per-host group AND the join-back), shuffles carry
    * (host, 32-hex) keys; per-host template groups are the hot keys by
    * definition and both aggs combine map-side. */
  def hostBoilerplate(docs: DataFrame, urlCol: String, textCol: String,
      windowWords: Int = 4, minDocs: Int = 3): DataFrame = {
    val pass = passages(docs, urlCol, textCol, windowWords)
      .select(col("doc_id").as("url"), Urls.hostOf("doc_id").as("host"),
        col("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val groups = pass.groupBy("host", "h")
      .agg(countDistinct(col("url")).as("docs_with"))
    pass.join(groups, Seq("host", "h"))
      .groupBy("url", "host")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("docs_with") >= minDocs, 1L).otherwise(0L))
          .as("n_common"))
      .withColumn("common_milli",
        expr("(1000 * n_common) div n_passages"))
  }

  /** C4-style blocklist page filter [public technique: Raffel et al.
    * 2020 §2.2 — drop any page containing a word from a fixed
    * blocklist; the reference twin is the dictionary-driven quality
    * gate, /root/reference/src/ocrmypdf/quality.py:12-44, inverted
    * from allow-list scoring to deny-list rejection]. Matching is
    * case-folded whole-token; rows are never dropped — `kept` is a
    * column, like every filter in this file.
    *
    * 100 TB shape: the blocklist is model-sized (ships as a literal
    * array in the plan — at a real multi-thousand-word list, swap for
    * a broadcast variable, same contract); the scan is one narrow
    * codegen'd projection over the shared token owner. Zero shuffle. */
  def badwordFilter(docs: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    val lowered = blocklist.map(_.toLowerCase(java.util.Locale.ROOT))
    docs.select(col(idCol).as("doc_id"),
        arrays_overlap(transform(wordsExpr(textCol), w => lower(w)),
          typedLit(lowered)).as("has_badword"))
      .withColumn("kept", !col("has_badword"))
  }

  /** Deterministic per-host contribution cap — the domain-balancing
    * sampler (an over-crawled host must not dominate the training mix;
    * the absolute-count twin of [[quotaSample]]'s fractional quota):
    * rank each host's docs by an operator-salted md5 coin (id
    * tie-break) and keep the first `cap`. Rows are never dropped:
    * `kept` is a column, `host_rank` rides along so consumers can
    * re-cut at a different cap without re-ranking.
    *
    * 100 TB shape: one shuffle on host + in-partition sort of (coin,
    * id) pairs — text never moves. The skew ceiling is the largest
    * host's doc count; a host too big to sort in one partition is
    * exactly the host the cap exists to cut, and the two-pass
    * threshold refinement described on [[quotaSample]] applies
    * unchanged. */
  def hostCap(docs: DataFrame, idCol: String, hostCol: String,
      cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(hostCol)
      .orderBy(md5(concat(lit("hostcap:"), col(idCol).cast("string"))),
        col(idCol))
    docs.select(col(idCol), col(hostCol))
      .withColumn("host_rank", row_number().over(w))
      .withColumn("kept", col("host_rank") <= lit(cap))
  }

  /** Fixed-size token-window chunking with overlap — the context-window
    * preparation step between cleaning and shard packing [public: the
    * standard LM pretraining practice of splitting long documents into
    * window-sized pieces with a small overlap so no boundary context is
    * lost]. Stride = chunkWords - overlap; chunk k covers words
    * [k·stride, k·stride + chunkWords) clamped to the document, for
    * every k·stride < n_words whose chunk contributes at least one NEW
    * word (s = 0 or s + overlap < n_words — a tail shorter than the
    * overlap is wholly contained in the previous chunk and emitting it
    * would duplicate training data; reviewed). Short docs yield one
    * chunk. A narrow explode — zero shuffle; one row per (doc, chunk)
    * at the grain the packer consumes. */
  def chunkByWords(docs: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkWords, "need 0 <= overlap < chunkWords")
    val stride = chunkWords - overlap
    docs
      .select(col(idCol).as("doc_id"), wordsExpr(textCol).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), col("ws"),
        explode(expr(s"sequence(0, cast(size(ws) - 1 as int), $stride)"))
          .as("s"))
      .filter(col("s") === 0 || col("s") + lit(overlap) < size(col("ws")))
      .select(col("doc_id"),
        expr(s"s div $stride").cast("long").as("chunk_idx"),
        (col("s") + 1).cast("long").as("start_word"),
        expr(s"size(slice(ws, s + 1, $chunkWords))").cast("long").as("n_words"),
        md5(expr(s"array_join(slice(ws, s + 1, $chunkWords), ' ')")
          .cast("binary")).as("chunk_md5"))
  }

  /** Corpus-trained character-trigram quality score — the shape of
    * CCNet's LM-perplexity filter [Wenzek et al. 2020 §3.3: score each
    * document with a model trained on reference text, keep the
    * well-scoring head] with an honest in-corpus model and EXACT
    * arithmetic instead of floating log-probs: the "model" is the set of
    * trigrams occurring ≥ `minCount` times corpus-wide (two-phase count,
    * small by construction — trigram space is bounded by the alphabet,
    * not the corpus), and a document's score is the milli-fraction of
    * its trigram OCCURRENCES covered by that set. Gibberish and
    * wrong-alphabet text scores low exactly as under a char-LM.
    *
    * 100 TB shape: one two-phase agg builds the model (map-side combine
    * collapses each partition to ≤ |alphabet|³ partials), the model
    * BROADCASTS, and scoring is a map-side semi-probe + per-doc count —
    * document text never joins. */
  def trigramQuality(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val tris = Par.spread(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("tq_text")),
        "doc_id")
      .select(col("doc_id"),
        explode(expr("case when length(tq_text) >= 3 then " +
          "transform(sequence(1, length(tq_text) - 2), i -> substring(tq_text, i, 3)) " +
          "else array() end")).as("tri"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model = tris.groupBy("tri")
      .agg(count(lit(1)).as("n")).filter(col("n") >= minCount)
      .select("tri")
    val perDoc = tris.groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
    val common = tris.join(broadcast(model), Seq("tri"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(common, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr("(1000 * coalesce(n_common, 0)) div greatest(coalesce(n_tri, 0), 1)")
          .as("common_milli"))
  }

  /** Quality-weighted deterministic sampling [public technique:
    * quality-score-weighted data selection à la Brown et al. 2020
    * (GPT-3) §A "fuzzy-deduplicated, quality-filtered, and SAMPLED in
    * proportion to quality"]: each row's keep probability is its
    * `weightMilli` column (0..1000), realized by the md5(id) coin — the
    * same deterministic hash-threshold mechanism as stratified sampling,
    * but with a PER-ROW data-dependent rate. No RNG, zero shuffle,
    * reproducible under any partitioning; `kept` is a column, rows are
    * never dropped. */
  def weightedSample(docs: DataFrame, idCol: String,
      weightMilli: org.apache.spark.sql.Column): DataFrame =
    docs
      .withColumn("weight_milli", weightMilli.cast("long"))
      .select(col(idCol).as("doc_id"), col("weight_milli"),
        // integer div (Spark `div` ≡ DuckDB `//`), never float `/`;
        // 'weight:' salt → independent of the other samplers' coins
        (coin32("weight", idCol)
          < expr("(weight_milli * 4294967296L) div 1000")).as("kept"))

  /** PII redaction [public technique: the standard pre-training scrub —
    * e.g. Penedo et al. 2023 (RefinedWeb) §3.4]: sequential
    * regexp_replace cascade over conservative RE2-and-Java-compatible
    * patterns (no backrefs, no lookaround, ASCII \\d semantics in both):
    * emails → <EMAIL>, IPv4 → <IP>, then ≥4-digit runs → <NUM>. Counts
    * are measured on the ORIGINAL text (so they are order-independent);
    * the cascade order is part of the contract (an IP redacted first can
    * not be double-counted as a digit run).
    *
    * 100 TB shape: a narrow codegen'd projection — zero shuffle. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  val numRe = "\\d{4,}"

  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(emailRe)).cast("long").as("n_email"),
      regexp_count(col(textCol), lit(ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col(textCol), lit(numRe)).cast("long").as("n_num"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
        numRe, "<NUM>").as("redacted"))
}

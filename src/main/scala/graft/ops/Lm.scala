package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-trained bigram language-model fluency scoring — the CCNet-style
  * "does this document look like the corpus" quality signal (Wenzek et
  * al. 2020 score documents with a corpus LM; the reference's analog is
  * the dictionary hit-ratio quality gate,
  * /root/reference/src/ocrmypdf/quality.py:12-44, generalized from a
  * fixed word list to a model trained on the corpus itself).
  *
  * Exact-integer formulation (no log-prob floats — the determinism
  * invariant bans float accumulation): the model is the corpus bigram
  * count table, and each document is scored by how common its bigrams
  * are in that model:
  *
  *   - `n_bigrams`  — bigram occurrences in the doc (len(ws)-1, 0 if <2
  *     words);
  *   - `sum_cnt`    — sum over the doc's bigram occurrences of the
  *     corpus-wide count of that bigram (≥ n_bigrams: each occurrence
  *     counts itself);
  *   - `rare_milli` — 1000 × (occurrences whose bigram appears exactly
  *     once in the whole corpus) / n_bigrams — the hapax ratio, high
  *     for disfluent/garbled text;
  *   - `mean_freq_milli` — 1000 × sum_cnt / n_bigrams — mean corpus
  *     frequency of the doc's bigrams, low for disfluent text.
  *
  * 100 TB shape: the gram grain is one row per DISTINCT (doc, bigram)
  * with its in-doc multiplicity (two-phase hash agg), so the model join
  * moves tf-compressed 16-byte md5 keys, never text. The grain feeds
  * BOTH the model aggregation and the join-back, so it carries a
  * persist barrier (Catalyst would otherwise re-run the scan+explode
  * subtree twice — see the signature-table rule in Dedup). The model is
  * corpus-sized (too big to broadcast at scale): a sort-merge/shuffled
  * hash join on the gram key is the honest plan.
  */
object Lm {

  /** The (doc_id, gram, tf) grain every LM consumer stands on — ONE
    * tokenize+explode pass, persisted because every consumer feeds it
    * to the model aggregation AND a join-back (the signature-table
    * rule). */
  private def gramGrain(docs: DataFrame, idCol: String, textCol: String,
      barrier: Boolean = true): DataFrame = {
    // spread BEFORE the gram explode (md5 per bigram is the CPU floor
    // and must not serialize on one scan split; no-op on wide layouts)
    val g = Par.spread(docs
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("lm_text")), "doc_id")
      .select(col("doc_id"), TextGrams.wordsExpr("lm_text").as("ws"))
      .select(col("doc_id"), explode(TextGrams.wordGramsExpr(2)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    // single-consumer callers skip the barrier — persisting a grain
    // nobody forks just adds a materialization + memory cost
    if (barrier) g.persist(StorageLevel.MEMORY_AND_DISK) else g
  }

  /** Per-document bigram-LM fluency stats (see class doc). One output
    * row per input document, including <2-word docs (zeros). */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bigramScoreFromGrain(docs, idCol, gramGrain(docs, idCol, textCol))

  private def bigramScoreFromGrain(docs: DataFrame, idCol: String,
      grain: DataFrame): DataFrame = {
    val model = grain.groupBy("gram").agg(sum("tf").as("cnt"))
    val per = grain.join(model, Seq("gram"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"),
        sum(col("tf") * col("cnt")).as("sum_cnt"),
        sum(when(col("cnt") === 1, col("tf")).otherwise(lit(0L)))
          .as("n_rare"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_cnt"), lit(0L)).as("sum_cnt"),
        expr("1000 * coalesce(n_rare, 0L) div greatest(coalesce(n_bigrams, 0L), 1)")
          .as("rare_milli"),
        expr("1000 * coalesce(sum_cnt, 0L) div greatest(coalesce(n_bigrams, 0L), 1)")
          .as("mean_freq_milli"))
  }

  /** Frozen-model scoring of a SEPARATE corpus — the deployment shape
    * CCNet actually runs (Wenzek et al. 2020 train the LM on a frozen
    * reference corpus, then score NEW crawl text against it; the
    * self-scored [[bigramScore]] is the training-side diagnostic). The
    * model is the bigram count table over `train`; every `apply`
    * document is scored against it, and bigrams the model has never
    * seen surface as an OOV rate instead of the self-scored invariant
    * cnt ≥ 1:
    *
    *   - `n_bigrams`       — bigram occurrences in the apply doc;
    *   - `oov_milli`       — 1000 × (occurrences of bigrams ABSENT
    *     from the model) / n_bigrams — the out-of-domain signal the
    *     self-scored form cannot produce;
    *   - `mean_freq_milli` — 1000 × Σ model-count / n_bigrams, OOV
    *     occurrences contributing 0.
    *
    * One output row per apply document, including <2-word docs
    * (zeros). 100 TB shape: the two corpora are separate tables (no
    * is-train flag joined onto a shared grain — that flag join would
    * move corpus-sized id pairs); each side reduces to its own
    * tf-compressed (doc, gram, tf) grain, the model join moves 16-byte
    * md5 keys LEFT-joined so OOV grams survive as nulls, and the model
    * is corpus-sized so a shuffled join (not broadcast) is the honest
    * plan, exactly as [[bigramScore]]. */
  def bigramScoreAgainst(train: DataFrame, apply: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val model = gramGrain(train, idCol, textCol, barrier = false)
      .groupBy("gram").agg(sum("tf").as("cnt"))
    val per = gramGrain(apply, idCol, textCol, barrier = false)
      .join(model, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * coalesce(col("cnt"), lit(0L))).as("sum_cnt"),
        sum(when(col("cnt").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"))
    apply.select(col(idCol).cast("long").as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        expr("1000 * coalesce(n_oov, 0L) div greatest(coalesce(n_bigrams, 0L), 1)")
          .as("oov_milli"),
        expr("1000 * coalesce(sum_cnt, 0L) div greatest(coalesce(n_bigrams, 0L), 1)")
          .as("mean_freq_milli"))
  }

  /** CCNet-style quality TIERING (Wenzek et al. 2020 §4.3 bucket the
    * corpus into head/middle/tail thirds by LM score): each document is
    * assigned the tercile of its [[bigramScore]] `mean_freq_milli`.
    *
    * Tier boundaries are VALUE thresholds, not ranks: `t_tail` is the
    * smallest score s with |{score ≤ s}|·3 ≥ n, `t_mid` likewise for
    * 2n — so tied scores always land in one tier and the assignment is
    * order-independent (the determinism invariant). Degenerate corpora
    * collapse low: all-equal scores → everything 'tail' (documented).
    *
    * 100 TB shape: no global sort and no rank window over the corpus —
    * the distribution is reduced to a (score, count) HISTOGRAM whose
    * size is bounded by the milli-score value range (not the corpus),
    * the two thresholds come out of one aggregate over that histogram,
    * and the tier assignment is a broadcast of the 1-row threshold
    * table onto a narrow per-doc projection. The scored table carries a
    * persist barrier: it feeds the histogram AND the final projection
    * (the signature-table rule — Catalyst would re-run the whole LM
    * lineage twice). */
  def qualityTiers(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = bigramScoreFromGrain(docs, idCol,
        gramGrain(docs, idCol, textCol))
      .select(col("doc_id"), col("mean_freq_milli").as("score"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (cum, n) = ValueHist.cumAndTotal(scored, "score")
    val thr = cum.crossJoin(broadcast(n))
      .agg(min(when(col("cum") * 3 >= col("n"), col("score"))).as("t_tail"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t_mid"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("score"),
        when(col("score") <= col("t_tail"), lit("tail"))
          .when(col("score") <= col("t_mid"), lit("middle"))
          .otherwise(lit("head")).as("tier"))
  }

  /** Per-population [[qualityTiers]] — the form CCNet actually ships
    * (Wenzek et al. 2020 compute the head/middle/tail thresholds PER
    * LANGUAGE, because LM scores are not comparable across languages:
    * one global cut would put all of a low-resource language in one
    * tier). Tercile value thresholds are derived independently within
    * each `byCol` group over the SAME corpus LM score, so a document's
    * tier is relative to its own population.
    *
    * Output: (doc_id, <byCol>, score, tier).
    *
    * 100 TB shape: [[ValueHist.cumAndTotalBy]] keeps the reduction a
    * (grp, score, count) histogram — bounded by groups × value range,
    * never the corpus; the per-group threshold table (≤ #languages
    * rows) broadcasts onto the narrow assignment. The scored table
    * carries the usual fork barrier (histogram + final projection). */
  def qualityTiersBy(docs: DataFrame, idCol: String, textCol: String,
      byCol: String): DataFrame = {
    val scored = bigramScoreFromGrain(docs, idCol,
        gramGrain(docs, idCol, textCol))
      .select(col("doc_id"), col("mean_freq_milli").as("score"))
      .join(docs.select(col(idCol).as("doc_id"), col(byCol).as("grp")),
        Seq("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (cum, n) = ValueHist.cumAndTotalBy(scored, "grp", "score")
    val thr = cum.join(n, Seq("grp"))
      .groupBy("grp")
      .agg(min(when(col("cum") * 3 >= col("n"), col("score"))).as("t_tail"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t_mid"))
    scored.join(broadcast(thr), Seq("grp"))
      .select(col("doc_id"), col("grp").as(byCol), col("score"),
        when(col("score") <= col("t_tail"), lit("tail"))
          .when(col("score") <= col("t_mid"), lit("middle"))
          .otherwise(lit("head")).as("tier"))
  }

  /** Tier-proportional downsampling — the move CCNet makes AFTER
    * tiering (Wenzek et al. 2020 §4.3 keep the head, subsample the
    * rest): every doc draws an md5 coin against its tier's keep rate
    * (milli-units). The coin is salted 'tier:' like every sampler in
    * CorpusStats, so composing this with quota/weighted sampling
    * selects independently; rates default to keep-all-head / half the
    * middle / a tenth of the tail.
    *
    * 100 TB shape: [[qualityTiers]]' histogram reduction plus one
    * narrow coin projection — no new exchange at all. */
  def tierSample(docs: DataFrame, idCol: String, textCol: String,
      headMilli: Long = 1000L, midMilli: Long = 500L,
      tailMilli: Long = 100L): DataFrame =
    qualityTiers(docs, idCol, textCol)
      .withColumn("rate_milli",
        when(col("tier") === "head", lit(headMilli))
          .when(col("tier") === "middle", lit(midMilli))
          .otherwise(lit(tailMilli)))
      .select(col("doc_id"), col("tier"), col("rate_milli"),
        (CorpusStats.coin32("tier", "doc_id")
          < expr("rate_milli * 4294967296 div 1000")).as("kept"))

  /** Token-budget MIX PLAN over the quality tiers: given a token budget
    * (a fraction of the corpus, default half) and target mix shares
    * (default 60/30/10 head/middle/tail — the "keep the head" shape of
    * CCNet §4.3 and the hand-set source weights of Gao et al. 2020),
    * compute the per-tier keep rate that realizes the mix, capped at
    * keep-everything: a tier smaller than its budget share yields
    * rate 1000 and the plan under-fills rather than over-sampling
    * (deduplicated corpora repeat nothing — the cap is the honest
    * semantics, and the gap is visible as planned < share·budget).
    * Exact integer arithmetic end-to-end (milli rates, truncating
    * div), so the plan is byte-deterministic and oracle-replayable.
    *
    * 100 TB shape: [[qualityTiers]]' histogram reduction, one narrow
    * token-count projection, then a ≤3-row aggregate — the corpus
    * never re-shuffles; the budget total rides a broadcast 1-row
    * aggregate. Output: one row per non-empty tier. */
  def mixPlan(docs: DataFrame, idCol: String, textCol: String,
      budgetNumer: Long = 1L, budgetDenom: Long = 2L,
      headMilli: Long = 600L, midMilli: Long = 300L,
      tailMilli: Long = 100L): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      size(TextGrams.wordsExpr(textCol)).cast("long").as("toks"))
    val tiers = qualityTiers(docs, idCol, textCol)
      .join(toks, Seq("doc_id"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"))
    val total = tiers.agg(sum("tokens").as("total"))
    tiers.crossJoin(broadcast(total))
      .withColumn("share_milli",
        when(col("tier") === "head", lit(headMilli))
          .when(col("tier") === "middle", lit(midMilli))
          .otherwise(lit(tailMilli)))
      .withColumn("budget",
        expr(s"(total * ${budgetNumer}L) div ${budgetDenom}L"))
      // keep_milli = 1000 · (budget·share/1000) / tokens — the 1000s
      // cancel: rate = budget·share_milli div tokens, ONE truncation
      .withColumn("keep_milli",
        least(lit(1000L),
          expr("(budget * share_milli) div greatest(tokens, 1)")))
      .select(col("tier"), col("n_docs"), col("tokens"), col("share_milli"),
        col("keep_milli"),
        expr("(tokens * keep_milli) div 1000").as("planned_tokens"))
  }
}

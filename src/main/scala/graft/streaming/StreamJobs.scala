package graft.streaming

import graft.spark.Jobs
import graft.model.{ExtractResult, PageRow}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming surface for the extraction pipeline.
  *
  * The reference's watched-folder mode (reference:
  * src/ocrmypdf/_watcher_security.py + docs) is an external file-event
  * loop around the same per-document pipeline; here it is the idiomatic
  * Spark equivalent: `readStream` over arriving page files → the SAME
  * fused kernel (one code path for batch and streaming — the kernel is a
  * pure per-row function, so it composes with either execution mode) →
  * checkpointed append sink, plus a watermarked windowed metrics stream.
  */
object StreamJobs {

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** Streaming transform: same kernel, streaming Dataset in/out. */
  def extractStream(pages: Dataset[PageRow]): Dataset[ExtractResult] =
    Jobs.extractNarrow(pages)

  /** File-watch pipeline: parquet files arriving in `inDir` are extracted
    * and appended to `outDir`, exactly-once via the sink checkpoint. */
  def fileExtractQuery(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    // operator-supplied paths are validated before the query starts
    // (symlinked watch root, watch loops, `..` traversal) — the analog
    // of the reference's watched-folder security checks
    StreamSecurity.validateWatchDirs(inDir, outDir, checkpointDir)
    val pages = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "16")
      .parquet(inDir)
      .as[PageRow]
    extractStream(pages).toDF()
      .withColumn("spans", to_json(col("spans")))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  /** Watermarked per-window outcome metrics over the extracted stream —
    * the streaming analog of the batch metrics table. */
  def windowedMetrics(extracted: Dataset[ExtractResult]): DataFrame =
    extracted.toDF()
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "1 hour"), col("outcome"))
      .agg(count(lit(1)).as("docs"), sum(length(col("text"))).as("chars"))

  /** Per-content-hash dedup state: the first-seen keeper plus the running
    * duplicate count. State size per key is constant (a url + a counter) —
    * the streaming analog of `Dedup.exact`'s (h, keep_id, n). */
  final case class DedupState(keepUrl: String, dups: Long)

  /** One output row per (content hash, micro-batch that touched it). */
  final case class DedupUpdate(h: String, keep_url: String, dups: Long)

  /** Streaming exact dedup with CUSTOM state (flatMapGroupsWithState):
    * the first document seen for a content hash becomes the keeper —
    * across micro-batches, via the state store — and later arrivals only
    * bump its duplicate counter. Within a batch, rows are ordered by url
    * so the keeper choice is deterministic, not arrival-ordered (the
    * reference's completion-order-independence discipline). */
  def streamingExactDedup(extracted: Dataset[ExtractResult]): Dataset[DedupUpdate] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    extracted
      .map { r =>
        // null-text guard: the kernel never emits null, but a parquet
        // replay can (nullable column) — one poison row must not wedge
        // the query across checkpoint restarts. Folds to the empty-text
        // hash, same as the batch twin's behavior on ''.
        val t = if (r.text == null) "" else r.text
        (md5hex(java.security.MessageDigest.getInstance("MD5"), t), r.url)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[DedupState, DedupUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[(String, String)], state: GroupState[DedupState]) =>
          // one O(n)/O(1)-memory fold for (min url, count): duplicates
          // are the hot keys by definition — buffering-and-sorting a
          // million-row boilerplate group (the old toVector.sorted)
          // risked OOM on exactly the keys this operator exists to find
          var minUrl: String = null
          var n = 0L
          rows.foreach { r =>
            if (minUrl == null || r._2 < minUrl) minUrl = r._2
            n += 1
          }
          val next = state.getOption match {
            case Some(s) => DedupState(s.keepUrl, s.dups + n)
            case None => DedupState(minUrl, n - 1)
          }
          state.update(next)
          Iterator.single(DedupUpdate(h, next.keepUrl, next.dups))
      }
  }

  /** Per-passage ownership state: the first (doc, pos) to present a
    * passage owns it; later sightings only bump the counter. Constant
    * size per key — the streaming analog of
    * `CorpusStats.passageDedup`'s (h, first_key, cnt). */
  final case class PassageState(ownerDoc: Long, ownerPos: Int, dups: Long)

  /** One row per (passage hash, micro-batch that touched it). */
  final case class PassageUpdate(h: String, owner_doc: Long, owner_pos: Int,
      dups: Long)

  /** Streaming corpus-wide passage dedup (the stateful twin of
    * `CorpusStats.passageDedup`): documents arriving on the stream are
    * split into non-overlapping `windowWords`-word passages; the state
    * store remembers each passage's first owner across micro-batches, so
    * boilerplate arriving in later batches is recognized as duplicate.
    * Within a batch, ownership goes to the lowest (doc_id, pos) — the
    * same keep-first rule as the batch operator, independent of arrival
    * order. */
  def streamingPassageDedup(docs: Dataset[(Long, String)],
      windowWords: Int = 4): Dataset[PassageUpdate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val w = windowWords
    docs
      .flatMap { case (id, text) =>
        val ws = if (text == null) Array.empty[String]
          else text.split(' ').filter(_.nonEmpty)
        // ONE digest per document, reset per gram — not one
        // MessageDigest.getInstance per passage
        val md = java.security.MessageDigest.getInstance("MD5")
        ws.grouped(w).zipWithIndex.collect {
          case (g, i) if g.length == w =>
            (md5hex(md, g.mkString(" ")), id, i)
        }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[PassageState, PassageUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[(String, Long, Int)],
            state: GroupState[PassageState]) =>
          // single O(n)/O(1)-memory fold (min (doc,pos) + count) — no
          // per-group buffer on the hot duplicated passages
          var minDoc = Long.MaxValue
          var minPos = Int.MaxValue
          var n = 0L
          rows.foreach { r =>
            if (r._2 < minDoc || (r._2 == minDoc && r._3 < minPos)) {
              minDoc = r._2; minPos = r._3
            }
            n += 1
          }
          val next = state.getOption match {
            case Some(s) => PassageState(s.ownerDoc, s.ownerPos,
              s.dups + n)
            case None => PassageState(minDoc, minPos, n - 1)
          }
          state.update(next)
          Iterator.single(PassageUpdate(h, next.ownerDoc, next.ownerPos,
            next.dups))
      }
  }

  /** Per-user sessionization state: last event time + running session
    * counter — constant size per user. */
  final case class SessionState(lastTsMicros: Long, sessionIdx: Long)

  final case class SessionAssign(user_id: Long, event_id: Long,
      session_idx: Long)

  /** Streaming gap sessionization — the stateful twin of
    * `Events.sessionize`: a user's session index lives in the state store
    * across micro-batches; a new session starts after `gapSec` of
    * inactivity. Within a batch, events are ordered by (ts, event_id) —
    * the same total order as the batch window — so intra-batch arrival
    * order never changes assignments. Cross-batch correctness assumes
    * per-user event-time monotonicity across batches (the standard
    * streaming-sessionization contract; pair with a watermark upstream to
    * bound lateness before this stage). */
  def streamingSessionize(events: Dataset[(Long, Long, java.sql.Timestamp)],
      gapSec: Long = 1800): Dataset[SessionAssign] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMicros = gapSec * 1000000L
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          // FULL microseconds (getTime is millis; the sub-milli part
          // lives in getNanos) — matching the batch window's unix_micros
          // exactly, or gap decisions straddling a millisecond boundary
          // would diverge from Events.sessionize
          def microsOf(ts: java.sql.Timestamp): Long =
            ts.getTime * 1000L + (ts.getNanos % 1000000L) / 1000L
          val ordered = rows.toVector.sortBy(r => (microsOf(r._3), r._2))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = ordered.map { case (_, eventId, ts) =>
            val micros = microsOf(ts)
            val idx =
              if (st.lastTsMicros == Long.MinValue ||
                micros - st.lastTsMicros > gapMicros) st.sessionIdx + 1
              else st.sessionIdx
            st = SessionState(micros, idx)
            SessionAssign(user, eventId, idx)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming decontamination — the STATELESS twin of
    * `CorpusStats.decontaminate`: benchmark sets are tiny by definition,
    * so the gram-hash set is COLLECTED once at query definition and
    * closed over as a broadcast-style model; each arriving document is
    * scored in a pure map (distinct grams ∩ model), which keeps the
    * query completely free of streaming state — no join state, no
    * aggregation state store, no watermark bookkeeping. (A stream-side
    * groupBy(doc_id) would be a watermark-less streaming aggregation
    * whose per-doc state lives forever.) `n_hits` counts distinct shared
    * grams, matching the batch operator; a document arrives atomically
    * in one micro-batch, so one output row per doc. */
  def streamingDecontaminate(docs: Dataset[(Long, String)],
      benchGrams: DataFrame, n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val model: Set[String] = benchGrams
      .collect().map(_.getString(0)).toSet
    docs.map { case (id, text) =>
      val ws = if (text == null) Array.empty[String]
        else text.split(' ').filter(_.nonEmpty)
      // the hottest loop in this file (one hash per stride-1 n-gram):
      // ONE digest per document and the Formatter-free hex helper
      val md = java.security.MessageDigest.getInstance("MD5")
      val hits = ws.sliding(n).filter(_.length == n).map { g =>
        md5hex(md, g.mkString(" "))
      }.toSet.count(model.contains)
      (id, hits.toLong)
    }.toDF("doc_id", "n_hits")
  }

  /** The ONLINE half of CCNet's offline-model → online-apply
    * deployment (the batch half is
    * [[graft.ops.Lm.exportTierModel]]): each arriving document scores
    * STATELESSLY against the frozen broadcast bigram model and is
    * assigned its tier by the frozen value thresholds — no state, no
    * watermark, no shuffle; the model rides one broadcast per query.
    * Bigrams the frozen model never saw count 0 (maximum rarity), the
    * only semantic a frozen model can give unseen text; with the full
    * (minCount=1) model over the SAME corpus the verdicts are exactly
    * batch-equivalent to [[graft.ops.Lm.qualityTiers]] (test-pinned).
    * The gram representation is TextGrams' md5-of-space-joined-words —
    * drifting from it would silently de-sync stream scores from the
    * batch model. */
  def streamingTierApply(docs: Dataset[(Long, String)],
      model: Map[String, Long], tTail: Long, tMid: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.mapPartitions { it =>
      val m = bc.value
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        val ws = if (text == null) Array.empty[String]
          else text.split(' ').filter(_.nonEmpty)
        var i = 0; var n = 0L; var sum = 0L
        while (i + 1 < ws.length) {
          sum += m.getOrElse(md5hex(md, ws(i) + " " + ws(i + 1)), 0L)
          n += 1; i += 1
        }
        val score = 1000L * sum / math.max(n, 1L)
        val tier = if (score <= tTail) "tail"
          else if (score <= tMid) "middle" else "head"
        (id, score, tier)
      }
    }.toDF("doc_id", "score", "tier")
  }

  /** Keep-first ownership per text hash for the streaming recipe. */
  final case class RecipeState(keepDoc: Long)

  /** One typed verdict per arriving document. */
  final case class RecipeDecision(doc_id: Long, verdict: String)

  /** Streaming twin of the batch `pipeline_recipe` front half: the
    * STATELESS quality decision (algebra owner:
    * [[graft.ops.CorpusStats.withQualityDecision]] — batch and stream
    * cannot drift) feeding STATEFUL keep-first exact dedup across
    * micro-batches. Rows never drop silently: every arriving doc emits
    * exactly one verdict — `kept`, `rejected:<reason>`, or
    * `duplicate_of:<keeper>`. Keeper = the state's owner if the hash was
    * seen in an earlier batch, else the lowest kept doc_id in this batch
    * (arrival-order independent, same keep-first rule as the batch
    * operators).
    *
    * The per-(hash, batch) group is buffered: unlike
    * [[streamingExactDedup]] (one summary row per group), this operator
    * EMITS one verdict per input row, so the output is already
    * group-sized and the buffer does not change the asymptotics. */
  def streamingRecipe(docs: Dataset[(Long, String)]): Dataset[RecipeDecision] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.functions.col
    graft.ops.CorpusStats.withQualityDecision(
        docs.toDF("doc_id", "text"), "text")
      .select(col("doc_id").cast("long"), col("text"), col("reject_reason"))
      .as[(Long, String, String)]
      .map { case (id, text, reason) =>
        val t = if (text == null) "" else text
        (md5hex(java.security.MessageDigest.getInstance("MD5"), t), id, reason)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[RecipeState, RecipeDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long, String)],
            state: GroupState[RecipeState]) =>
          val rs = rows.toVector
          val keptIds = rs.collect { case (_, id, null) => id }
          val keeper: Option[Long] = state.getOption.map(_.keepDoc)
            .orElse(keptIds.minOption)
          if (state.getOption.isEmpty && keptIds.nonEmpty)
            state.update(RecipeState(keptIds.min))
          rs.iterator.map { case (_, id, reason) =>
            if (reason != null) RecipeDecision(id, s"rejected:$reason")
            else if (keeper.contains(id)) RecipeDecision(id, "kept")
            else RecipeDecision(id, s"duplicate_of:${keeper.get}")
          }
      }
  }

  /** Per-(url, digest) revisit state: the first capture's timestamp —
    * constant size per key, the streaming analog of
    * `Snapshots.revisits`' window minimum. */
  final case class RevisitState(firstTs: java.sql.Timestamp)

  /** One typed verdict per arriving capture. `refers_to_ts` is null on
    * `response` rows — same schema as the batch operator. */
  final case class RevisitVerdict(url: String, ts: java.sql.Timestamp,
      digest: String, record_type: String,
      refers_to_ts: java.sql.Timestamp)

  /** Streaming WARC revisit typing (the stateful twin of
    * `Snapshots.revisits`): a crawler's capture log arrives as
    * (url, ts, digest) and each record is typed AT ARRIVAL — the first
    * capture of a payload digest per url is the `response`, every
    * later identical capture a `revisit` referring to it. The state
    * store carries the first timestamp per (url, digest) across
    * micro-batches; within a batch, rows sort by (ts, getNanos) so the
    * verdict is deterministic, not arrival-ordered. Equivalence with
    * the batch operator holds under per-key event-time-ordered
    * delivery (a live crawler fetches forward in time); a late replay
    * of an EARLIER capture would claim the response role the batch
    * recompute assigns it — re-run the batch operator for archival
    * re-typing. Per-(key, batch) buffering is bounded by the crawl
    * cadence (captures of ONE url+payload in one micro-batch). */
  def streamingRevisits(
      captures: Dataset[(String, java.sql.Timestamp, String)]): Dataset[RevisitVerdict] = {
    val spark = captures.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    captures
      .groupByKey(r => (r._1, r._3))
      .flatMapGroupsWithState[RevisitState, RevisitVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (String, String),
         rows: Iterator[(String, java.sql.Timestamp, String)],
         state: GroupState[RevisitState]) =>
          val (url, digest) = key
          val sorted = rows.toVector
            .sortBy(r => (r._2.getTime, r._2.getNanos))
          var first = state.getOption.map(_.firstTs)
          val out = sorted.map { r =>
            first match {
              case None =>
                first = Some(r._2)
                RevisitVerdict(url, r._2, digest, "response", null)
              case Some(f) if r._2 == f =>
                // duplicate (url, digest, ts) capture (replayed log
                // segment): the batch operator types EVERY row at the
                // minimum timestamp `response` — mirror it, so the
                // equivalence holds even where the (url, ts)-unique
                // precondition is violated
                RevisitVerdict(url, r._2, digest, "response", null)
              case Some(f) =>
                RevisitVerdict(url, r._2, digest, "revisit", f)
            }
          }
          first.foreach(f => state.update(RevisitState(f)))
          out.iterator
      }
  }

  /** Fast md5-hex shared by the streaming kernels: caller-supplied
    * digest (reset here, one instance per document), Character.forDigit
    * instead of a Formatter per byte. Output is byte-identical to Spark
    * SQL's `md5()` hex, which the batch twins' oracles rely on. */
  private def md5hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }
}

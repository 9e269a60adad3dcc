package graft

import graft.ops.{CorpusStats, Dedup, Events, Similarity, TextStats, Media, OrderedMerge, Urls}
import graft.spark.Jobs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Two families of queries:
  *  1. Pipeline queries (extract_*, triage_*, merge_*, host_*, text_* on
  *     the synthetic corpus): the Spark pipeline runs over the
  *     deterministic 600-row verify corpus (FIXTURES.md) and must match
  *     the frozen golden parquet byte-identically — the oracle simply
  *     reads the goldens. This is the reference's golden-cache test
  *     discipline (tests/plugins/tesseract_cache.py) expressed as a
  *     DuckDB compare.
  *  2. Data-pipeline operators (dedup_*, sim_*, docstats_*) over the
  *     driver's documents/embeddings tables, with independent SQL
  *     oracles that recompute the semantics in DuckDB.
  */
object SparkEntry {

  val goldenExtracted = "/root/repo/src/test/resources/golden/extracted/*.parquet"
  val goldenSpans = "/root/repo/src/test/resources/golden/spans/*.parquet"
  val goldenModes = "/root/repo/src/test/resources/golden/modes/*.parquet"
  val goldenLinks = "/root/repo/src/test/resources/golden/links/*.parquet"
  val goldenHeadings = "/root/repo/src/test/resources/golden/headings/*.parquet"
  val goldenCells = "/root/repo/src/test/resources/golden/cells/*.parquet"
  val verifyN = 600

  // one extraction pass per session, shared by all pipeline queries.
  // STRONG values with explicit LRU unpersist, NOT soft/weak wrappers:
  // a cleared SoftReference would orphan the persisted copy inside
  // Spark's CacheManager (which holds the InMemoryRelation strongly,
  // and closure-bearing extraction plans never compare semanticEquals-
  // equal, so re-persisting after a clear would stack a SECOND full
  // cached corpus, unpersistable forever). Only a strong handle can
  // call unpersist() on eviction. Cost: each cached entry pins its
  // SparkSession (value→key), bounded by the LRU cap — sessions here
  // are one-per-JVM or short-lived test sessions, so ≤4 pins is noise
  // against an orphaned corpus copy per memory-pressure event.
  private val cacheCap = 4
  private val cache =
    new java.util.LinkedHashMap[SparkSession, DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, DataFrame]): Boolean =
        if (size > cacheCap) {
          try { e.getValue.unpersist(); () } catch { case _: Throwable => () }
          true
        } else false
    }

  private def extracted(spark: SparkSession): DataFrame = cache.synchronized {
    val got = cache.get(spark)
    if (got != null) got
    else {
      val df = Jobs.extract(Jobs.syntheticPages(spark, verifyN), 32).toDF()
        .withColumn("host", expr("split_part(url, '/', 3)"))
      df.persist()
      cache.put(spark, df)
      df
    }
  }

  /** Exploded host-grain link edges (src_host, dst_host, url, chrome) —
    * ONE owner for the edge projection `link_hostgraph` aggregates and
    * `link_hits` ranks (a private copy drifting in either would
    * silently de-sync the HITS graph from the reported hostgraph). */
  private def hostLinkGrain(ex: DataFrame): DataFrame = ex
    .select(col("url"), explode(col("links")).as("l"))
    .select(lower(split_part(col("url"), lit("/"), lit(3))).as("src_host"),
      lower(split_part(col("l.resolved"), lit("/"), lit(3))).as("dst_host"),
      col("url"), col("l.chrome").as("chrome"))

  /** Crawl-frontier discovery: canonical targets (outlinks AND
    * meta-refresh redirects — a crawler follows both edge kinds) the
    * crawl has NOT yet seen, ranked by in-reference count. Both sides
    * use the SHARED canon algebra (ops/Urls.canon), so a target and
    * its crawled page meet on one key. At 100 TB the seen side stays a
    * compact one-column exchange (or a bloom pre-filter feeding this
    * exact anti-join); here it is the plain shuffled LeftAnti on the
    * canon key. The article fixtures link to sibling articles, so the
    * anti-join provably removes rows (unit-pinned). Shared owner for
    * the crawl_frontier and crawl_schedule queries. */
  private def frontier(s: SparkSession): DataFrame = {
    val ex = extracted(s)
    val targets = ex.select(explode(col("links")).as("l"))
      .select(col("l.resolved").as("target"))
      .unionAll(ex.filter(col("redirect") =!= "")
        .select(col("redirect").as("target")))
      .select(Urls.canon("target").as("canon"))
      .groupBy("canon").agg(count(lit(1)).as("n_refs"))
    val seen = ex.select(Urls.canon("url").as("canon")).distinct()
    targets.join(seen, Seq("canon"), "left_anti")
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def spark_read_events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The synthetic multi-capture log shared by `cdx_revisit` and
    * `cdx_retention` — ONE owner of the re-capture coins and intervals
    * (a drifted copy would let the revisit typing and the retention
    * policy run over different logs): the corpus's one capture per url
    * plus deterministic re-captures — same-digest at +1d (revisit),
    * changed-digest at +2d (new response lineage), same-ORIGINAL-digest
    * at +3d (revisit referring to the FIRST capture). Coins come from
    * md5(url) so both engines pick identical subsets. Mirrored by
    * [[revisitLogCtes]]. */
  private def revisitLog(s: SparkSession): DataFrame = {
    val base = extracted(s).select(col("url"), col("warc_ts").as("ts"),
      md5(coalesce(col("text"), lit(""))).as("digest"),
      expr("cast(conv(substring(md5(url), 1, 6), 16, 10) as bigint)")
        .as("coin"), coalesce(col("text"), lit("")).as("t"))
    base.select(col("url"), col("ts"), col("digest"))
      .unionAll(base.filter(col("coin") % 3 === 0)
        .select(col("url"), col("ts") + expr("INTERVAL 1 DAY"),
          col("digest")))
      .unionAll(base.filter(col("coin") % 5 === 0)
        .select(col("url"), col("ts") + expr("INTERVAL 2 DAY"),
          md5(concat(col("t"), lit("v2")))))
      .unionAll(base.filter(col("coin") % 15 === 0)
        .select(col("url"), col("ts") + expr("INTERVAL 3 DAY"),
          col("digest")))
  }

  /** The publication-date cascade over the extraction relation — ONE
    * owner (shared by `extract_pubdate` and `domain_freshness`; a
    * drifted copy would let the page-grain and host-grain views resolve
    * different dates): ld+json datePublished → article:published_time
    * meta → capture date, as strings. Mirrored by the `px` CTE in
    * [[pubdateCtes]]. */
  private def pubdated(ex: DataFrame): DataFrame =
    ex.select(
      col("url"), col("host"),
      expr("""try_element_at(filter(
                transform(ldjson, p -> get_json_object(p, '$.datePublished')),
                x -> x IS NOT NULL), 1)""").as("ld"),
      expr("""try_element_at(filter(metas,
                m -> m.name = 'article:published_time'), 1).content""")
        .as("mt"),
      date_format(col("warc_ts"), "yyyy-MM-dd").as("cap"))
      .select(col("url"), col("host"),
        coalesce(substring(col("ld"), 1, 10),
          substring(col("mt"), 1, 10), col("cap")).as("pubdate"),
        when(col("ld").isNotNull, "ldjson")
          .when(col("mt").isNotNull, "meta")
          .otherwise("capture").as("source"))

  private val langIdUdf = udf(TextStats.langId _)
  private val qualityUdf = udf(TextStats.dictHitRatio _)
  private val tokensWsUdf = udf(TextStats.tokensWs _)
  private val tokensBpeUdf = udf(TextStats.tokensBpe _)

  /** BPE merge cascade as a Catalyst column: the same priority-ordered
    * replace chain as `TextStats.tokensBpe`, fully codegen'd (no UDF).
    * `length` counts codepoints in both Spark and DuckDB, matching the
    * kernel's codePointCount. */
  private def tokensBpeCol(c: Column): Column = {
    val merged = TextStats.bpeMerges.zipWithIndex.foldLeft(c) {
      case (acc, (m, i)) => replace(acc, lit(m), lit(TextStats.bpeAtom(i)))
    }
    length(merged).cast("long")
  }

  /** The same cascade as a DuckDB SQL expression over column `text`. */
  private lazy val tokensBpeSql: String = {
    val inner = TextStats.bpeMerges.zipWithIndex.foldLeft("text") {
      case (acc, (m, i)) => s"replace($acc, '$m', chr(${0xE000 + i}))"
    }
    s"CAST(length($inner) AS BIGINT)"
  }
  private val fingerprintUdf = udf(TextStats.fingerprint _)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    extracted(spark).groupBy("outcome", "engine")
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- pipeline: golden-equality family ------------------------------
    "extract_text" -> ((s, _) =>
      extracted(s).select("url", "text", "outcome", "engine").orderBy("url")),
    "extract_spans" -> ((s, _) =>
      extracted(s)
        .select(col("url"), posexplode(col("spans")))
        .select(col("url"), col("pos").cast("int").as("idx"),
          col("col.start").as("start"), col("col.end").as("end"),
          col("col.kind").as("kind"), col("col.path").as("path"))
        .orderBy("url", "idx")),
    "triage_sniff" -> ((s, _) =>
      extracted(s).select("url", "format", "charset").orderBy("url")),
    "extract_ldjson" -> ((s, _) =>
      // structured-data mining (the WAT analog CC pipelines run over
      // schema.org blocks): ld+json payloads captured VERBATIM by the
      // kernel, typed here with a JSON column function — parsing is
      // plan-side work, never the kernel's
      extracted(s)
        .select(col("url"), posexplode(col("ldjson")).as(Seq("idx", "payload")))
        .select(col("url"), col("idx").cast("long").as("idx"),
          col("payload"),
          get_json_object(col("payload"), "$['@type']").as("item_type"))
        .orderBy("url", "idx")),
    "extract_metas" -> ((s, _) =>
      // head <meta> mining (the WAT Head-Metas field): name/property
      // pairs captured by the kernel (body metas rejected), typed and
      // filtered plan-side — og:* vs plain names split with column
      // functions, never in the kernel
      extracted(s)
        .select(col("url"), posexplode(col("metas")).as(Seq("idx", "m")))
        .select(col("url"), col("idx").cast("long").as("idx"),
          col("m.name").as("name"), col("m.content").as("content"),
          col("m.name").startsWith("og:").as("opengraph"))
        .orderBy("url", "idx")),
    "extract_pubdate" -> ((s, _) =>
      // publication-date resolution (the freshness axis CC-derived
      // training sets filter on): schema.org datePublished from the
      // ld+json blocks, else the OpenGraph article:published_time meta,
      // else the WARC capture date — a typed cascade with the source
      // recorded. Dates stay STRINGS (first 10 chars of the ISO form):
      // no timezone parsing, so both engines see identical bytes. All
      // narrow — column functions over already-captured head fields.
      // Cascade owner: [[pubdated]] (shared with domain_freshness).
      pubdated(extracted(s)).select("url", "pubdate", "source")
        .orderBy("url")),
    "domain_freshness" -> ((s, _) =>
      // per-host freshness profile over the same cascade — the
      // crawl-planning grain (a host whose pages are all years old
      // re-crawls on a slower schedule; one with declared dates gets a
      // cheaper freshness signal than capture-date inference): page
      // count, date range, and how many dates came from each cascade
      // source, one hash aggregation on the host key
      pubdated(extracted(s))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          min(col("pubdate")).as("oldest"),
          max(col("pubdate")).as("newest"),
          sum(when(col("source") === "ldjson", 1L).otherwise(0L))
            .as("n_ldjson"),
          sum(when(col("source") === "meta", 1L).otherwise(0L))
            .as("n_meta"),
          sum(when(col("source") === "capture", 1L).otherwise(0L))
            .as("n_capture"))
        .orderBy("host")),
    "extract_fertility" -> ((s, _) =>
      // tokenizer fertility per predicted language (BPE pieces per
      // whitespace word, milli — the standard tokenizer-evaluation
      // metric; public: Kudo & Richardson 2018): the same kernel
      // functions the goldens carry (langId/tokensWs/tokensBpe), rolled
      // up at the language grain host_quality already proves at host
      // grain — one narrow projection, one hash aggregation
      extracted(s)
        .select(langIdUdf(col("text")).as("pred_lang"),
          tokensWsUdf(col("text")).as("tokens_ws"),
          tokensBpeUdf(col("text")).as("tokens_bpe"))
        .filter(col("tokens_ws") > 0)
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens_bpe").as("bpe_tokens"),
          sum("tokens_ws").as("ws_tokens"),
          expr("CAST((sum(tokens_bpe) * 1000) div sum(tokens_ws) AS BIGINT)")
            .as("fertility_milli"))
        .orderBy("pred_lang")),
    "cdx_index" -> ((s, _) =>
      // CDX-style capture index over the extraction output: SURT key
      // (reversed host labels — site-prefix range scans), 14-digit
      // timestamp, text digest; the sort IS the product
      graft.ops.Urls.cdxIndex(extracted(s), "url", "warc_ts", "text")),
    "feed_discovery" -> ((s, _) =>
      // feed autodiscovery over the extraction output: resolved head
      // rel=alternate rss/atom pointers, document order — the page
      // side of the robots → sitemap → feed discovery trio
      extracted(s)
        .select(col("url"), posexplode(col("feeds")).as(Seq("idx", "feed_url")))
        .select(col("url"), col("idx").cast("long").as("idx"),
          col("feed_url"))
        .orderBy("url", "idx")),
    "url_trap_signal" -> ((s, _) =>
      // crawl-trap mining: digit runs in the path collapse to a
      // skeleton; one hot skeleton per host = one trap candidate
      graft.ops.Urls.urlTemplates(extracted(s), "url", trapMin = 24)
        .orderBy("host", "skeleton")),
    "cdx_revisit" -> ((s, _) =>
      // WARC revisit typing over the shared synthetic multi-capture log
      // (revisitLog — coins, intervals and digest rewrites documented
      // there)
      graft.ops.Snapshots.revisits(revisitLog(s), "url", "ts", "digest")
        .orderBy("url", "ts")),
    "cdx_retention" -> ((s, _) =>
      // capture-retention policy over the same log: keep the newest
      // K=2 captures per url (the archive-lifecycle dedup CDX stores
      // apply before expiring old crawls); rank-from-latest is a
      // per-url window — per-url capture counts are bounded, so the
      // partition can never skew
      // digest tie-break: the synthetic log has distinct ts per url
      // today, but a tied (url, ts) must rank identically in both
      // engines and at both parallelism levels
      revisitLog(s)
        .withColumn("rank_from_latest",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("url"))
            .orderBy(col("ts").desc, col("digest"))).cast("long"))
        .select(col("url"), col("ts"), col("digest"),
          col("rank_from_latest"),
          (col("rank_from_latest") <= 2).as("kept"))
        .orderBy("url", "ts")),
    "snapshot_diff" -> ((s, dir) => {
      // cross-snapshot per-url diff: old = the full corpus; new drops
      // every %3 doc (removed), rewrites every remaining %5 digest
      // (changed) and re-offers every %7 doc under a fresh id (added —
      // offset 10^12, above any sf's genuine id range)
      // null-text docs digest as '' (md5(NULL) is NULL in both engines
      // and would mislabel an unchanged null doc "changed")
      val d = docs(s, dir).select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"))
      val old = d.select(col("doc_id"), md5(col("text")).as("digest"))
      val nw = d.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, md5(concat(col("text"), lit("v2"))))
            .otherwise(md5(col("text"))).as("digest"))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
            md5(col("text")).as("digest")))
      graft.ops.Snapshots.diff(old, nw, "doc_id", "digest")
        .orderBy("url")
    }),
    "sample_host_cap" -> ((s, _) =>
      // per-host contribution cap (domain balancing): keep at most 12
      // docs per host by salted-coin rank; kept is a COLUMN (rows are
      // never dropped) and the rank rides along for re-cutting
      CorpusStats.hostCap(extracted(s), "url", "host", cap = 12)
        .withColumn("host_rank", col("host_rank").cast("long"))
        .orderBy("host", "host_rank")),
    "extract_metrics" -> ((s, _) =>
      extracted(s).groupBy("engine", "outcome")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).cast("long").as("chars"))
        .orderBy("engine", "outcome")),
    "merge_ordered" -> ((s, _) =>
      // sort-based streaming concat (ops.OrderedMerge): skew-safe — no
      // per-host collect_list buffer; 70%-one-host skew streams through
      OrderedMerge.concatOrdered(
        extracted(s).select("host", "url", "outcome"),
        "host", "url", "outcome", "\f", mergedName = "outcomes")
        .orderBy("host")),
    "host_stats_salted" -> ((s, _) => {
      // two-phase salted aggregation: partial per (host, salt), then final
      // — the skew pattern from the north rule, provably equal to a
      // direct groupBy(host)
      val partial = extracted(s)
        .withColumn("salt", pmod(xxhash64(col("url")), lit(16)))
        .groupBy("host", "salt")
        .agg(count(lit(1)).as("pn"), sum(length(col("text"))).as("pc"))
      partial.groupBy("host")
        .agg(sum(col("pn")).cast("long").as("n_docs"),
          sum(col("pc")).cast("long").as("chars"))
        .orderBy("host")
    }),
    "extract_links" -> ((s, _) =>
      // outlink extraction (extract/Links.scala): every visible anchor,
      // RFC 3986-resolved against the page URL (+ first <base href>),
      // chrome-flagged — byte-compared against the scalar-kernel goldens
      extracted(s)
        .select(col("url"), explode(col("links")).as("l"))
        .select(col("url"), col("l.idx").as("idx"), col("l.raw").as("raw"),
          col("l.resolved").as("resolved"), col("l.chrome").as("chrome"),
          col("l.text").as("text"))
        .orderBy("url", "idx")),
    "link_hits" -> ((s, _) => {
      // HITS hub/authority over the host graph (exact-integer max-norm
      // iterations) — crawl seeding/prioritization scores
      val edges = hostLinkGrain(extracted(s))
        .select(col("src_host").as("src"), col("dst_host").as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      graft.ops.Graph.hits(edges, iters = 3)
    }),
    "host_components" -> ((s, _) => {
      // mirror/site-cluster resolution: connected components over the
      // host link graph, keeper = the component's lexicographic min
      // host (label-independent, so the oracle resolves its own way)
      val edges = hostLinkGrain(extracted(s))
        .select(col("src_host").as("src"), col("dst_host").as("dst"))
        .filter(col("src") =!= col("dst") && col("dst") =!= "")
        .distinct()
      graft.ops.Graph.componentsByKey(edges, "src", "dst")
        .select(col("key").as("host"), col("keep_key").as("keep_host"),
          col("n_members"))
        .orderBy("host")
    }),
    "table_records" -> ((s, _) => {
      // header-keyed record mining over the relational table view:
      // data cells (row > 0) paired with their column's header-row key
      // — the flatten-tables-to-facts step structured-data miners run
      val cells = extracted(s)
        .select(col("url"), explode(col("cells")).as("c"))
        .select(col("url"), col("c.tbl").as("tbl"), col("c.row").as("row"),
          col("c.col").as("col"), col("c.header").as("header"),
          col("c.text").as("ctext"))
      val hdr = cells
        .filter(col("header") && col("row") === 0 && col("ctext") =!= "")
        .select(col("url"), col("tbl"), col("col"), col("ctext").as("key"))
      cells.filter(!col("header") && col("row") > 0)
        .join(hdr, Seq("url", "tbl", "col"))
        .select(col("url"), col("tbl"), col("row"), col("col"),
          col("key"), col("ctext").as("value"))
        .orderBy("url", "tbl", "row", "col")
    }),
    "extract_canonical" -> ((s, _) =>
      // per-page navigation metadata: resolved meta-refresh target and
      // rel=canonical (both against the effective <base>), golden-pinned
      extracted(s).select(col("url"), col("redirect"), col("canonical"))
        .orderBy("url")),
    "url_dedup_canonical" -> ((s, _) => {
      // canonical-aware url dedup: the effective identity is the page's
      // rel=canonical when declared, else its own url — then the same
      // canon-keyed two-phase group as url_dedup. The syndicated-copy
      // fixtures make multi-page clusters (canonical → sibling article).
      val ex = extracted(s)
      val eff = ex.select(col("url"),
        when(col("canonical") =!= "", col("canonical")).otherwise(col("url"))
          .as("eff"))
      val withK = eff.select(col("url"), Urls.canon("eff").as("ckey"))
      val groups = withK.groupBy("ckey")
        .agg(count(lit(1)).as("group_n"), min(col("url")).as("keep_url"))
      withK.join(groups, Seq("ckey"))
        .select(col("url"), col("ckey"), col("keep_url"), col("group_n"))
        .orderBy("url")
    }),
    "link_anchor_text" -> ((s, _) =>
      // inbound anchor-text aggregation per canonical target — the
      // retrieval-training signal CC-style corpora mine: in-content
      // (non-chrome) anchors only, grouped on the shared canon key;
      // top anchor via min(struct(-n, text)) argmax, exact tie-break
      extracted(s)
        .select(explode(col("links")).as("l"))
        .filter(!col("l.chrome") && col("l.text") =!= "")
        .select(Urls.canon("l.resolved").as("canon"),
          col("l.text").as("anchor"))
        .groupBy("canon", "anchor").agg(count(lit(1)).as("n"))
        .groupBy("canon")
        .agg(sum(col("n")).as("n_refs"),
          count(lit(1)).as("n_texts"),
          min(struct((-col("n")).as("negn"), col("anchor").as("anchor")))
            .as("top"))
        .select(col("canon"), col("n_refs"), col("n_texts"),
          col("top.anchor").as("top_anchor"), (-col("top.negn")).as("top_n"))
        .orderBy("canon")),
    "anchor_expand" -> ((s, _) => {
      // anchor-text document EXPANSION (the retrieval-corpus transform;
      // public technique: anchor-augmented document representations,
      // e.g. Craswell et al. 2001 / TREC anchor-text tracks): each
      // page's text is extended with the top-5 inbound anchor texts
      // aggregated on the shared canonical key — count-desc, anchor-asc
      // deterministic order, rank-sorted join via array_sort on
      // (rank, anchor) structs. Unlike link_anchor_text (the in-content
      // AUDIT view), expansion keeps chrome anchors — navigational
      // anchors still DESCRIBE their target, the classic anchor-text
      // indexing choice — and instead drops self-links (a page's own
      // anchor adds nothing to its representation). Shuffle profile:
      // anchors reduce to compact (canon, anchor, n) rows before the
      // cap window; the page join fans one aggregated row per target —
      // page TEXT rides only the final url-keyed join, never the
      // anchor aggregation. Logic lives in ops/Anchors (ordering, cap
      // and self-link drop unit-pinned there — the fixture corpus only
      // exercises single-anchor targets). The keep-chrome choice IS
      // pinned by the driver gate: the corpus's only anchors whose
      // targets are corpus pages are chrome (footer "related" →
      // sibling articles, 45 expanded pages), so re-adding
      // link_anchor_text's !chrome filter here reds the oracle.
      val ex = extracted(s)
      val links = ex
        .select(col("url").as("src"), explode(col("links")).as("l"))
        .select(col("src"), col("l.resolved").as("resolved"),
          col("l.text").as("anchor"))
      graft.ops.Anchors.expandByCanon(ex, "url", "text",
        links, "src", "resolved", "anchor").orderBy("url")
    }),
    "link_hostgraph" -> ((s, _) =>
      // host-level link graph from the pipeline's own outlinks — the
      // Common-Crawl webgraph shape: one groupBy on the (src,dst)
      // authority pair; chrome edges counted separately so consumers can
      // weight navigation vs in-content citation. Authority-grained
      // (lowercased); dst_host keeps port/userinfo as resolved.
      hostLinkGrain(extracted(s))
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("url")).as("n_pages"),
          sum(col("chrome").cast("long")).as("n_chrome"))
        .orderBy("src_host", "dst_host")),
    "host_rank" -> ((s, _) =>
      // host-graph PageRank — the crawl-prioritization twin of
      // link_hits (PageRank weights a host by who cites it through the
      // damped walk; HITS splits hub/authority roles): intra-host
      // edges dropped (site navigation self-reinforces and says
      // nothing about cross-site endorsement), weights = link counts
      // on the same authority grain as link_hostgraph, and the rank
      // loop is the ONE pageRank owner textRank also runs
      graft.ops.Graph.pageRank(
        hostLinkGrain(extracted(s))
          .filter(col("src_host") =!= col("dst_host"))
          .groupBy(col("src_host").as("s"), col("dst_host").as("t"))
          .agg(count(lit(1)).as("w")))
        .select(col("token").as("host"), col("rank_micro"))
        .orderBy(col("rank_micro").desc, col("host"))),
    "crawl_frontier" -> ((s, _) => frontier(s).orderBy("canon")),
    "frontier_admitted" -> ((s, _) => {
      // admission-gated frontier: discovery composed with the RFC 9309
      // verdict. The robots url fixture rides along (canonicalized) so
      // deny verdicts provably fire; rule-less corpus hosts
      // default-allow — a crawler fetches exactly the allowed rows
      val f = frontier(s).select(col("canon"))
        .unionAll(graft.ops.Robots.urlsDf(s)
          .select(Urls.canon("url").as("canon")))
        .distinct()
      graft.ops.Robots.filter(f, "canon", graft.ops.Robots.robotsDf(s))
        .orderBy("url")
    }),
    "crawl_schedule" -> ((s, _) => {
      // politeness scheduling over the frontier: one fetch per host per
      // wave, most-referenced targets first within each host — the
      // per-host window is keyed on the frontier's own host column, so
      // the shuffle carries compact (canon, n_refs) rows and each
      // host's queue orders independently
      import org.apache.spark.sql.expressions.Window
      val f = frontier(s).withColumn("host", Urls.hostOf("canon"))
      val w = Window.partitionBy("host")
        .orderBy(col("n_refs").desc, col("canon").asc)
      f.withColumn("wave", (row_number().over(w) - 1).cast("long"))
        .select(col("canon"), col("host"), col("n_refs"), col("wave"))
        .orderBy("host", "wave")
    }),
    "host_quality" -> ((s, _) =>
      // host-grain quality rollup — the grain a crawl prioritizes and
      // budget-cuts on: outcome rate, token mass, and BPE-per-word
      // tokenizer fertility, all exact integer milli (the float
      // quality column is deliberately NOT summed — float accumulation
      // is order-dependent and breaks the determinism contract)
      extracted(s)
        .select(col("host"), col("outcome"),
          tokensWsUdf(col("text")).as("tokens_ws"),
          tokensBpeUdf(col("text")).as("tokens_bpe"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"),
          expr("(1000 * sum(case when outcome = 'ok' then 1L else 0L end))" +
            " div count(1)").as("ok_milli"),
          sum(col("tokens_ws")).as("tokens"),
          expr("sum(tokens_ws) div count(1)").as("mean_tokens"),
          expr("(1000 * sum(tokens_bpe)) div greatest(sum(tokens_ws), 1L)")
            .as("fertility_milli"))
        .orderBy("host")),
    "link_spam_signal" -> ((s, _) => {
      // host-grain link-farm signal (the SEO-spam heuristic a crawl
      // budget-cuts on): outlink density per word and the intra-host
      // share of outlinks — a host whose pages are mostly links, mostly
      // to itself, is a link farm, not content. Two two-phase host aggs
      // over the (already persisted) extraction output, joined on host;
      // exact integer milli. 100 TB: host is the same skewed key
      // host_quality rolls up on — partial aggs combine map-side, and a
      // pathological mega-host salts exactly like host_stats_salted.
      val ex = extracted(s)
      val pages = ex.groupBy(lower(col("host")).as("host"))
        .agg(count(lit(1)).as("n_pages"),
          sum(tokensWsUdf(col("text"))).as("n_words"))
      val links = hostLinkGrain(ex)
        .groupBy(col("src_host").as("host"))
        .agg(count(lit(1)).as("n_links"),
          sum(when(col("dst_host") === col("src_host"), 1L).otherwise(0L))
            .as("n_intra"),
          sum(col("chrome").cast("long")).as("n_chrome"))
      pages.join(links, Seq("host"), "left")
        .select(col("host"), col("n_pages"), col("n_words"),
          coalesce(col("n_links"), lit(0L)).as("n_links"),
          coalesce(col("n_intra"), lit(0L)).as("n_intra"),
          coalesce(col("n_chrome"), lit(0L)).as("n_chrome"))
        .withColumn("link_density_milli",
          expr("(1000L * n_links) div greatest(n_words, 1L)"))
        .withColumn("intra_ratio_milli",
          expr("(1000L * n_intra) div greatest(n_links, 1L)"))
        .orderBy("host")
    }),
    "crawl_depth" -> ((s, _) => {
      // in-crawl hop distance: BFS waves from the crawl's effective
      // entry points — EVERY crawled page no other crawled page links
      // to, including pages with no in-crawl edges at all (seeding from
      // the edge table alone would misread those as orphaned) — over
      // exact-url link edges BETWEEN crawled pages (the frontier op
      // owns the canon-matching story; this one audits the crawl that
      // happened). Cycle-only islands get no row: absence = orphaned.
      val ex = extracted(s)
      val pages = ex.select(col("url")).distinct()
      val el = ex.select(col("url").as("src"), explode(col("links")).as("l"))
        .select(col("src"), col("l.resolved").as("dst"))
        .join(pages.select(col("url").as("dst")), Seq("dst"), "left_semi")
      val entry = pages.select(col("url").as("node"))
        .join(el.select(col("dst").as("node")).distinct(), Seq("node"),
          "left_anti")
      graft.ops.Graph.bfsDepth(el, maxDepth = 8, seeds = Some(entry))
        .select(col("node").as("url"), col("depth"))
        .orderBy("url")
    }),
    "extract_dirlang" -> ((s, _) =>
      // first-strong bidi direction + resolved language metadata
      // (reference: renderer.py:30-42 _is_rtl_text; _metadata.py:178-216
      // /Lang stamping)
      extracted(s).select("url", "lang", "dir").orderBy("url")),
    "extract_modes" -> ((s, _) => {
      // the ProcessingMode × prior-text matrix over the full corpus; spans
      // detailed only under redo (lazy-analysis gate). Each mode is one
      // independent pipeline run.
      import graft.model.{ExtractConfig, ProcessingMode}
      ProcessingMode.all.map { m =>
        Jobs.extract(Jobs.syntheticPages(s, verifyN), 32,
            ExtractConfig(mode = m, detailedSpans = m == ProcessingMode.Redo))
          .toDF()
          .select(col("url"), lit(m).as("mode"), col("outcome"), col("engine"),
            size(col("spans")).cast("long").as("n_spans"),
            md5(col("text").cast("binary")).as("text_md5"))
      }.reduce(_.unionAll(_)).orderBy("mode", "url")
    }),
    "extract_subset" -> ((s, _) =>
      // --pages subset against the pipeline itself: out-of-range rows are
      // never GENERATED (the partition-pruning analog; reference gates all
      // heavy work on page membership, _pipeline.py:349-350), and the
      // survivors must still match the goldens byte-identically
      Jobs.extract(
        Jobs.syntheticPagesSubset(s, verifyN, "1-40,101-130,590-end"), 8)
        .toDF().select("url", "text", "outcome").orderBy("url")),
    "extract_warc" -> ((s, _) => {
      // the verify corpus re-serialized as WARC/1.0 archives (Common
      // Crawl's real container: Content-Length-framed response records),
      // re-ingested through the WARC source's tolerant record walk, then
      // extracted — must match the goldens byte-identically, proving the
      // source round-trips every field the kernel consumes
      import s.implicits._
      // decomposition derived from verifyN (the corpus size's one
      // owner): 50-row archives, so a verifyN change cannot leave this
      // query round-tripping a stale subset
      val groupSize = 50
      // a non-divisible verifyN would silently drop the tail docs from
      // the WARC round-trip and red the compare with a misleading
      // row-count mismatch — fail loudly at the real cause instead
      require(verifyN % groupSize == 0,
        s"verifyN=$verifyN must be a multiple of WARC groupSize=$groupSize")
      val blobs = (0 until verifyN / groupSize).map { g =>
        graft.spark.WarcSource.writeRecords(
          (0 until groupSize).map(k =>
            graft.gen.SyntheticCorpus.row((g * groupSize + k).toLong)))
      }
      val pages = s.createDataset(blobs)
        .repartition(4) // archives parse in parallel, like binaryFile tasks
        .flatMap(b => graft.spark.WarcSource.parseRecords(b))
      Jobs.extract(pages, 32).toDF()
        .select("url", "text", "outcome", "engine").orderBy("url")
    }),
    "pages_subset" -> ((s, dir) => {
      // --pages-style subset as a PUSHED-DOWN parquet filter (reference:
      // _options.py:72-139; plan shows PushedFilters OR-of-ranges and a
      // 2-column ReadSchema). `end` stays open-ended — no driver-side
      // count() to resolve it
      val d = docs(s, dir)
      d.filter(Jobs.subsetFilterOpenEnd(col("doc_id"), "1-50,111,200-end",
          firstPosValue = 0L))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "text_langid" -> ((s, _) =>
      extracted(s).select(col("url"), langIdUdf(col("text")).as("pred_lang"))
        .orderBy("url")),
    "url_dedup" -> ((s, _) =>
      // URL canonicalization + url-keyed exact dedup over the
      // adversarial in-code fixture (casing/ports/fragments/param
      // order/tracking params/trailing slashes); the oracle replays the
      // identical normalization algebra in DuckDB spellings
      graft.ops.Urls.urlDedup(graft.ops.Urls.fixtureDf(s), "url")
        .withColumn("group_n", col("group_n").cast("long"))
        .orderBy("url")),
    "text_langid_profile" -> ((s, _) => {
      // trigram-profile language ID (Cavnar-Trenkle rank profiles) over
      // the 100-language held-out fixture; the DuckDB oracle recomputes
      // the whole train/rank/out-of-place/argmin pipeline from the same
      // VALUES literals via a per-gram × per-language cross formulation
      // (cross-strategy check of the arithmetic-completion shortcut)
      val profiles = graft.ops.LangId.trainProfiles(
        graft.ops.LangId.trainDf(s), "lang", "text")
      val test = graft.ops.LangId.testDf(s)
      graft.ops.LangId.classify(test, "sample_id", "text", profiles)
        .join(test.select("sample_id", "true_lang"), Seq("sample_id"))
        .select("sample_id", "true_lang", "pred_lang", "dist")
        .orderBy("sample_id")
    }),
    "text_quality" -> ((s, _) =>
      extracted(s).select(col("url"), qualityUdf(col("text")).as("quality"))
        .orderBy("url")),
    "text_tokens" -> ((s, _) =>
      extracted(s).select(col("url"),
        tokensWsUdf(col("text")).as("tokens_ws"),
        tokensBpeUdf(col("text")).as("tokens_bpe"),
        fingerprintUdf(col("text")).as("fingerprint"))
        .orderBy("url")),
    // -- data-pipeline operators with independent DuckDB oracles -------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text").orderBy("h")),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),
    "dedup_normalized" -> ((s, dir) => {
      // CCNet-normalized exact dedup: keys are lowercased/digit-folded/
      // punct-stripped text, so formatting edits don't defeat the hash.
      // The corpus is all-ASCII lowercase (normalization would be a
      // no-op), so every %7 doc is re-offered UPPERCASED under offset
      // ids — the groups provably collapse case variants while raw
      // exact dedup would not. Offset 10^12: above any sf's id range.
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
          upper(col("text")).as("text"))
      Dedup.normalizedDedup(base.unionAll(variants), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "corpus_decontaminate_bloom" -> ((s, dir) => {
      // Bloom-filter decontamination: same held-out benchmark slice as
      // corpus_decontaminate, probed through the m-bit packed filter
      // instead of the exact broadcast gram set — the constant-size-
      // broadcast scale path (no false negatives; unit test pins
      // bloom_hits >= exact n_hits row-by-row)
      val d = docs(s, dir)
      graft.ops.Bloom.decontaminateBloom(d, "doc_id", "text",
          d.filter(pmod(col("doc_id"), lit(13)) === 7), "text")
        .orderBy("doc_id")
    }),
    "corpus_decontaminate_substring" -> ((s, dir) => {
      // exact-substring decontamination (Lee et al.): same held-out
      // benchmark slice as the n-gram form, 40-char windows keyed like
      // dedup_substrings' — catches tokenization-robust leaks word
      // n-grams miss
      val d = docs(s, dir)
      CorpusStats.decontaminateSubstring(d, "doc_id", "text",
          d.filter(pmod(col("doc_id"), lit(13)) === 7), "text")
        .orderBy("doc_id")
    }),
    "corpus_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: the "benchmark" is a deterministic
      // held-out slice of the corpus itself (doc_id ≡ 7 mod 13 — no
      // external data); docs sharing any 8-word n-gram with it are flagged
      val d = docs(s, dir)
      CorpusStats.decontaminate(d, "doc_id", "text",
          d.filter(pmod(col("doc_id"), lit(13)) === 7), "text")
        .orderBy("doc_id")
    }),
    "corpus_chunks" -> ((s, dir) =>
      // context-window chunking: 64-word windows, 16-word overlap — the
      // (doc, chunk) grain between cleaning and shard packing
      CorpusStats.chunkByWords(docs(s, dir), "doc_id", "text",
          chunkWords = 64, overlap = 16)
        .orderBy("doc_id", "chunk_idx")),
    "trigram_quality" -> ((s, dir) =>
      // CCNet-style corpus-trained quality score with exact arithmetic:
      // model = trigrams seen ≥5× corpus-wide (broadcast), score =
      // milli-fraction of a doc's trigram occurrences the model covers
      CorpusStats.trigramQuality(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "sample_weighted" -> ((s, dir) => {
      // quality-weighted sampling: per-row keep probability = a quality
      // signal (300 base + stopword milli-ratio, capped 900), realized by
      // the deterministic md5 coin — higher-quality docs oversampled
      val w = docs(s, dir)
        .withColumn("ws", expr("filter(split(text, ' '), x -> x != '')"))
        .withColumn("sw_milli", expr(
          "(1000L * cast(size(filter(ws, w -> array_contains(" +
            "array('and','for','in','is','it','of','that','the','to','with')" +
            ", lower(w)))) as bigint)) div greatest(cast(size(ws) as bigint), 1L)"))
        .withColumn("wm", least(lit(900L), lit(300L) + col("sw_milli")))
      CorpusStats.weightedSample(w, "doc_id", col("wm"))
        .orderBy("doc_id")
    }),
    "sample_quota" -> ((s, dir) =>
      // domain-mixing quota sampling: exact per-lang target fractions via
      // deterministic hash-rank selection (eng 50%, zho 30%, others 20%)
      CorpusStats.quotaSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.3), defaultFrac = 0.2)
        .orderBy("doc_id")),
    "text_redact" -> ((s, dir) => {
      // PII redaction over deterministically AUGMENTED text (the synthetic
      // corpus carries no emails/IPs/digit runs, so 2 of 3 rows get a
      // doc_id-derived PII suffix — both engines build the same string)
      val aug = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, col("text")).otherwise(
          concat(col("text"),
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@ex.com ip 10.1."),
            pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
            pmod(col("doc_id"), lit(100)).cast("string"),
            lit(" ref "), (col("doc_id") * 7919).cast("string")))
          .as("text"))
      CorpusStats.redactPii(aug, "doc_id", "text")
        .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_num"),
          md5(col("redacted").cast("binary")).as("red_md5"))
        .orderBy("doc_id")
    }),
    "dedup_substrings" -> ((s, dir) =>
      // exact substring-level dedup (Lee et al. 2021 ExactSubstr): maximal
      // ≥40-char runs occurring more than once in the corpus, at arbitrary
      // boundaries — the modality passage/doc hashing cannot see. Spark
      // keys windows with rolling_hash2, the oracle with md5, so equal
      // runs is also a cross-strategy equality check
      Dedup.substringRuns(docs(s, dir), "doc_id", "text", minLen = 40)
        .orderBy("doc_id", "run_start")),
    "dedup_substrings_clean" -> ((s, dir) =>
      // substring-dedup APPLY: every duplicated ≥40-char run cut from
      // every doc (drop-all-copies, the public ExactSubstr tooling's
      // removal semantics); rows without runs pass through unchanged
      Dedup.substringRunsClean(docs(s, dir), "doc_id", "text", minLen = 40)
        .orderBy("doc_id")),
    "dedup_substrings_keep_first_clean" -> ((s, dir) =>
      // keep-first APPLY: non-owner duplicated runs cut, the owner copy
      // kept verbatim — exactly one copy of every duplicated substring
      // survives corpus-wide
      Dedup.substringRunsCleanKeepFirst(docs(s, dir), "doc_id", "text",
          minLen = 40)
        .orderBy("doc_id")),
    "dedup_substrings_keep_first" -> ((s, dir) =>
      // keep-one-copy variant (Lee et al. keep-first): the lowest
      // (doc_id, pos) occurrence per duplicated gram family keeps its
      // copy — only later copies emit removable runs; same window key
      // and same cross-strategy check as dedup_substrings
      Dedup.substringRunsKeepFirst(docs(s, dir), "doc_id", "text",
          minLen = 40)
        .orderBy("doc_id", "run_start")),
    "dedup_substrings_rolling" -> ((s, dir) =>
      // the earlier scale-path name of dedup_substrings: the same plan,
      // kept so no query is dropped
      Dedup.substringRunsRolling(docs(s, dir), "doc_id", "text", minLen = 40)
        .orderBy("doc_id", "run_start")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", minJaccard = 0.1)
        .orderBy("doc_a", "doc_b")),
    "dedup_containment" -> ((s, dir) =>
      // Broder containment: asymmetric milli fractions over the shared
      // gram-intersection core — quotes/excerpts symmetric Jaccard misses
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text", maxHamming = 16)
        .orderBy("doc_a", "doc_b")),
    "dedup_embed_cosine" -> ((s, dir) =>
      Dedup.embeddingCosineLsh(emb(s, dir), "vec_id", "embedding")
        .orderBy("doc_a", "doc_b")),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.resolveClusters(
        Dedup.minhashLsh(docs(s, dir), "doc_id", "text")
          .select("doc_a", "doc_b"))
        .orderBy("doc_id")),
    "docstats_tokens" -> ((s, dir) =>
      // tokens_bpe = the real merge-cascade tokenizer (TextStats.bpeMerges)
      // expressed as a codegen'd replace chain — one narrow projection, no
      // UDF; the oracle runs the identical chain in DuckDB
      docs(s, dir).select(col("doc_id"),
        expr("cast(size(filter(split(text, ' '), x -> x != '')) as bigint)")
          .as("n_tokens"),
        tokensBpeCol(col("text")).as("tokens_bpe"),
        length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")),
    "docstats_wordlen" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr("cast(length(text) - length(replace(text, ' ', '')) as bigint)")
          .as("n_spaces"),
        // average word length quantized to millis — order-independent ints
        // non-space chars = length(replace(text, ' ', '')) — identical
        // arithmetic, same simplification mirrored in the oracle
        expr("cast(floor(1000.0 * length(replace(text, ' ', '')) / greatest(size(filter(split(text, ' '), x -> x != '')), 1)) as bigint)")
          .as("avg_wordlen_milli"))
        .orderBy("doc_id")),
    "docstats_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(col("text").cast("binary")).as("fp")).orderBy("doc_id")),
    "text_repetition" -> ((s, dir) =>
      // Gopher-style per-doc repetition signals (narrow, builtins only)
      CorpusStats.repetition(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_passages" -> ((s, dir) =>
      // CCNet-style corpus-wide passage dedup: keep-first-occurrence stats
      CorpusStats.passageDedup(docs(s, dir), "doc_id", "text", windowWords = 4)
        .orderBy("doc_id")),
    "dedup_passages_clean" -> ((s, dir) =>
      // the actual removal transform: drop non-first duplicate passages
      // corpus-wide, reassemble survivors in order (skew-safe ordered
      // concat — no per-doc buffer)
      CorpusStats.passageDedupClean(docs(s, dir), "doc_id", "text",
        windowWords = 4).orderBy("doc_id")),
    "dedup_passages_indoc" -> ((s, dir) =>
      // within-page repeated-span removal (RefinedWeb-style): keep the
      // FIRST in-document occurrence of each passage — zero-shuffle, the
      // decision never leaves the row
      CorpusStats.passageDedupInDoc(docs(s, dir), "doc_id", "text",
        windowWords = 4).orderBy("doc_id")),
    "vocab_topk" -> ((s, dir) =>
      CorpusStats.vocabTopK(docs(s, dir), "text", k = 100)),
    "vocab_coverage" -> ((s, dir) =>
      // top-K vocabulary coverage (OOV-rate curve) resolved exactly
      // against the count-of-counts histogram — no vocabulary ranking
      CorpusStats.vocabCoverage(docs(s, dir), "text").orderBy("k")),
    "sketch_kmv" -> ((s, dir) => {
      // KMV bottom-k distinct sketch as a native TypedImperativeAggregate:
      // bounded ≤k state, map-side PARTIAL merge — the mergeable-sketch
      // alternative to exact count-distinct (which shuffles every value)
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .groupBy("lang")
        .agg(expr("kmv_minima(text, 32)").as("minima"),
          countDistinct(col("text")).as("exact_distinct"))
        .select(col("lang"),
          expr("cast(size(minima) as bigint)").as("n_minima"),
          expr("element_at(minima, size(minima))").as("kth_hash"),
          md5(expr("array_join(minima, ',')").cast("binary")).as("minima_md5"),
          col("exact_distinct"))
        .orderBy("lang")
    }),
    "sketch_countmin" -> ((s, dir) =>
      // Count-Min heavy hitters (Cormode-Muthukrishnan 2005): fixed
      // depth×width counter state regardless of corpus size; estimates
      // are min-over-rows against the broadcast table; exact counts ride
      // along as the test-scale admissibility exhibit (est ≥ exact)
      // heavyHitters' own terminal orderBy(est desc, token).limit(k)
      // owns the ordering contract — no call-site re-sort
      graft.ops.CountMin.heavyHitters(docs(s, dir), "text", k = 20)),
    "index_postings" -> ((s, dir) =>
      // inverted index build: exact df/tf before the posting cap, rank-
      // only window so WindowGroupLimit pre-limits stopword rows
      graft.ops.InvertedIndex.build(docs(s, dir), "doc_id", "text",
        maxPostings = 10, minDf = 2).orderBy("token")),
    "search_tfidf" -> ((s, dir) =>
      // integer-exact tf-idf ranked retrieval: broadcast query terms,
      // narrow isin filter before any shuffle, partial top-k
      graft.ops.Search.tfidfTopK(docs(s, dir), "doc_id", "text",
        Seq("hash", "join", "vector"), k = 20)),
    "search_bm25" -> ((s, dir) =>
      // BM25 (k1=1.2, b=0.75) in exact integer millis: narrow dl
      // projection + one tiny corpus-stats broadcast; DECIMAL(38)
      // product so crawl-scale N can't wrap the term score
      graft.ops.Search.bm25TopK(docs(s, dir), "doc_id", "text",
        Seq("hash", "join", "vector"), k = 20)),
    "assign_ids" -> ((s, dir) =>
      // deterministic dense ordinals: (md5-bucket, key) total order via
      // two-phase prefix sum — never zipWithIndex/monotonically_inc_id
      graft.ops.AssignIds.stableIds(docs(s, dir), "doc_id", buckets = 64)
        .orderBy("doc_id")),
    "sim_allpairs_tokens" -> ((s, dir) =>
      // Bayardo-style sparse all-pairs set-cosine: token-keyed candidate
      // join under a df cap, integer-exact cos² in ppm
      graft.ops.Similarity.allPairsSetCosine(docs(s, dir), "doc_id", "text",
        minCos2Ppm = 640000L, dfCap = 100).orderBy("doc_a", "doc_b")),
    "dedup_winnow" -> ((s, dir) =>
      // Schleimer-style winnowing: window-min gram fingerprints give the
      // LOCAL-similarity guarantee (any shared ≥ n+w-1-word run shares
      // a fingerprint) minhash resemblance cannot
      graft.ops.Dedup.winnow(docs(s, dir), "doc_id", "text")
        .orderBy("doc_a", "doc_b")),
    "lm_bigram" -> ((s, dir) =>
      // corpus-trained bigram-LM fluency score (CCNet-style quality
      // signal), exact-integer hapax/mean-frequency milli ratios
      graft.ops.Lm.bigramScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "lm_score_heldout" -> ((s, dir) => {
      // frozen-model deployment shape: LM trained on the even-id split
      // scores the odd-id split, OOV bigrams surfacing as oov_milli
      val d = docs(s, dir)
      graft.ops.Lm.bigramScoreAgainst(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text").orderBy("doc_id")
    }),
    "sketch_hll" -> ((s, dir) =>
      // HyperLogLog per-language distinct-text estimate: 256 integer
      // registers per group (mergeable), exact-integer raw estimator
      graft.ops.Hll.distinctSketch(docs(s, dir), "lang", "text")
        .orderBy("grp")),
    "quality_classifier" -> ((s, dir) =>
      // hash-trick linear classifier inference: broadcast 1024-weight
      // model onto the (doc, feat, tf) grain — the fastText-style
      // quality-gate plan with a deterministic md5-derived model
      graft.ops.Classifier.scoreLinear(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "quality_tiers" -> ((s, dir) =>
      // CCNet head/middle/tail terciles of the LM score — value-based
      // thresholds out of a compact score histogram, no global sort
      graft.ops.Lm.qualityTiers(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "quality_tiers_by_lang" -> ((s, dir) =>
      // CCNet's ACTUAL tiering grain: terciles per language (LM scores
      // are not comparable across languages — a global cut would dump
      // whole low-resource languages into one tier)
      graft.ops.Lm.qualityTiersBy(docs(s, dir), "doc_id", "text", "lang")
        .orderBy("doc_id")),
    "tier_sample" -> ((s, dir) =>
      // CCNet's downstream move: keep the head, subsample middle/tail
      // by salted md5 coins against per-tier milli rates
      graft.ops.Lm.tierSample(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "mix_plan" -> ((s, dir) =>
      // token-budget mix planner: per-tier keep rates realizing a
      // 60/30/10 head/middle/tail mix of half the corpus tokens, capped
      // at keep-everything — exact milli arithmetic, ≤3-row output
      graft.ops.Lm.mixPlan(docs(s, dir), "doc_id", "text")
        .orderBy("tier")),
    "text_ttr" -> ((s, dir) =>
      // windowed type-token ratio at w=25 (the corpus runs 10-99 words,
      // so 25 yields a 0-3 window mix; the op default is 50)
      graft.ops.CorpusStats.windowedTtr(docs(s, dir), "doc_id", "text",
        w = 25).orderBy("doc_id")),
    "ngram_novelty" -> ((s, dir) =>
      // first-seen fraction of each doc's distinct 8-grams (min-doc_id
      // argmin over the shared decontamination gram algebra)
      graft.ops.CorpusStats.ngramNovelty(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "importance_shift" -> ((s, dir) => {
      // DSIR-lite importance weights: target = the head quality tier,
      // source = the whole corpus; positive shift_ppm = head-like
      val d = docs(s, dir)
      val head = graft.ops.Lm.qualityTiers(d, "doc_id", "text")
        .filter(col("tier") === "head").select("doc_id")
      graft.ops.CorpusStats.importanceShift(d, "doc_id", "text", head)
        .orderBy("doc_id")
    }),
    "gopher_filter" -> ((s, dir) =>
      // Gopher Table-A1 rule bundle: exact milli signals, first-failing
      // verdict; stopword bar at 1 distinct on this vocabulary
      graft.ops.CorpusStats.gopherRules(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "signal_outliers" -> ((s, dir) =>
      // Tukey-fence length outliers: exact nearest-rank quartiles out
      // of a value-bounded histogram — no global sort
      graft.ops.CorpusStats.signalOutliers(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_incremental" -> ((s, dir) => {
      // continuous-crawl admission: the odd half is a NEW batch checked
      // against the even half's kept corpus; the %5 slice is re-offered
      // under fresh ids so both duplicate reasons (vs corpus, vs own
      // batch) provably fire. The re-offer offset is 10^12 — far above
      // any sf's genuine id range (a small offset would COLLIDE with
      // real ids at larger sf, making the doc_id sort ambiguous)
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val existing = base.filter(col("doc_id") % 2 === 0)
      val incoming = base.filter(col("doc_id") % 2 === 1)
        .unionAll(base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
            col("text")))
      Dedup.incrementalExact(existing, incoming, "doc_id", "text")
        .orderBy("doc_id")
    }),
    "dedup_minhash_incremental" -> ((s, dir) => {
      // the FUZZY admission step: near-dup candidates of the odd-half
      // batch against the even-half kept corpus — both sides through
      // the shared signature owner, skew cap counted across the union
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      Dedup.minhashIncremental(
        base.filter(col("doc_id") % 2 === 0),
        base.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
        .orderBy("doc_id", "dup_of")
    }),
    "sitemap_parse" -> ((s, _) =>
      // sitemaps.org urlset/index parsing: document-ordered entries,
      // entity-unescaped locs, directory-scope verdicts, lastmod days
      graft.ops.Sitemaps.parse(graft.ops.Sitemaps.fixtureDf(s))
        .orderBy("sm_url", "ord")),
    "feed_parse" -> ((s, _) => {
      // RSS 2.0 / Atom feed parsing — the freshness discovery channel
      // next to sitemaps: ordered entries, Atom alternate-link
      // selection, RFC 822 / W3C calendar days; same_host is the audit
      // column (Urls.hostOf algebra on both sides — cross-host feed
      // links are syndication, not discovery)
      val p = graft.ops.Feeds.parse(graft.ops.Feeds.fixtureDf(s))
      val lh = graft.ops.Urls.hostOf("link")
      p.withColumn("same_host",
          lh === graft.ops.Urls.hostOf("feed_url") && lh =!= "")
        .orderBy("feed_url", "ord")
    }),
    "graph_pagerank" -> ((s, dir) =>
      // TextRank keywords: 5-iteration integer PageRank over the word-
      // adjacency graph — the suite's one iterative-join operator
      graft.ops.Graph.textRank(docs(s, dir), "text")),
    "text_topic" -> ((s, dir) =>
      // keyword-taxonomy argmax classifier, broadcast keyword table
      graft.ops.Topics.classify(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "url_blocklist" -> ((s, _) =>
      // wildcard-domain blocklist via host dot-suffix explode +
      // broadcast equality join (never a LIKE cross join)
      graft.ops.Urls.blocklistFilter(graft.ops.Urls.fixtureDf(s), "url")
        .orderBy("url")),
    "domain_stats" -> ((s, _) =>
      // per-registrable-domain corpus stats — the grain crawl quotas
      // and per-site budgets aggregate on, composed from the shared
      // registrableDomains algebra. The corpus pages (all one
      // registrable domain by construction) are UNIONed with the PSL
      // fixture urls so the aggregation provably separates domains
      // (eTLD+1 collapse, suffix-only hosts, IP literals)
      graft.ops.Urls.registrableDomains(
        extracted(s).select(col("url"))
          .unionAll(graft.ops.Urls.domainFixtureDf(s)), "url")
        .groupBy("registrable")
        .agg(count(lit(1)).as("n_pages"),
          countDistinct(col("host")).as("n_hosts"))
        .orderBy("registrable")),
    "url_domains" -> ((s, _) =>
      // public-suffix + registrable-domain extraction: dot-suffix chain
      // explode with start-index, broadcast PSL equijoin, longest match
      // = min start index (never a LIKE/regex cross join)
      graft.ops.Urls.registrableDomains(
        graft.ops.Urls.domainFixtureDf(s), "url").orderBy("url")),
    "robots_filter" -> ((s, _) =>
      // RFC 9309 robots.txt admission: stateful line-group parse via
      // lag + framed running sum, most-specific-agent group merge,
      // longest-prefix-match verdict (Allow wins length ties); rules
      // broadcast onto the url side's host key
      graft.ops.Robots.filter(graft.ops.Robots.urlsDf(s), "url",
        graft.ops.Robots.robotsDf(s)).orderBy("url")),
    "robots_sitemaps" -> ((s, _) =>
      // robots.txt Sitemap pointers (host-global, group-blind) — the
      // standard sitemap discovery channel, feeding Sitemaps.parse
      graft.ops.Robots.sitemapPointers(graft.ops.Robots.robotsDf(s))
        .orderBy("host", "ln")),
    "robots_crawl_delay" -> ((s, _) =>
      // group-scoped Crawl-delay applicable to our agent: integer
      // seconds, max across merged groups (politest wait wins)
      graft.ops.Robots.crawlDelays(graft.ops.Robots.robotsDf(s))
        .orderBy("host")),
    "discovery_chain" -> ((s, _) => {
      // the full crawl-discovery composition: robots.txt Sitemap
      // pointers → fetched sitemap documents → in-scope urlset entries,
      // joined on the sitemap url (the pointer side is per-host tiny —
      // a broadcast onto the parsed-entry side at scale)
      val ptrs = graft.ops.Robots.sitemapPointers(
        graft.ops.Robots.robotsDf(s))
      val entries = graft.ops.Sitemaps.parse(graft.ops.Sitemaps.fixtureDf(s))
      ptrs.join(entries, ptrs("sitemap_url") === entries("sm_url"))
        .filter(col("kind") === "urlset" && col("in_scope"))
        .select(col("host"), col("sm_url"), col("ord"), col("loc"),
          col("lastmod_day"))
        .orderBy("host", "sm_url", "ord")
    }),
    "bpe_train" -> ((s, dir) =>
      // distributed BPE merge learning (Sennrich 2016): per-step pair
      // argmax over the vocab, single-char-atom replace = greedy merge
      graft.ops.Bpe.train(docs(s, dir), "text", merges = 6)
        .orderBy("step")),
    "bpe_encode" -> ((s, dir) => {
      // train-then-encode: the learned replace cascade applied per word
      // inside transform/aggregate — one narrow codegen'd projection,
      // no explode; per-doc subword token-cost stats
      val d = docs(s, dir)
      val pairs = graft.ops.Bpe.learn(d, "text", merges = 6)._2
      graft.ops.Bpe.encode(d, "doc_id", "text", pairs).orderBy("doc_id")
    }),
    "source_overlap" -> ((s, dir) =>
      // data-mixing audit: pairwise distinct-8-gram overlap between
      // sources, exact milli Jaccard on the (source, gram) grain
      graft.ops.CorpusAudit.sourceOverlap(docs(s, dir), "text", "source")
        .orderBy("src_a", "src_b")),
    "vocab_growth" -> ((s, dir) =>
      // Heaps-law curve: new-token first occurrences per doc-id decile
      // via one min(doc_id) hash agg — no sequential corpus scan
      graft.ops.CorpusAudit.vocabGrowth(docs(s, dir), "doc_id", "text")
        .orderBy("bucket")),
    "dedup_minhash_apply" -> ((s, dir) =>
      // the APPLY step for fuzzy dedup: LSH pairs → connected
      // components → keep-one-per-cluster flags over the full corpus
      Dedup.minhashApply(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_keep_best" -> ((s, dir) =>
      // the apply step with a QUALITY keeper: each cluster keeps its
      // longest member (min id on ties) instead of the smallest id
      Dedup.minhashApplyKeepBest(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "dedup_embed_apply" -> ((s, dir) =>
      // the embedding-space apply twin: semantic clusters → keep flags
      Dedup.embedCosineApply(emb(s, dir), "vec_id", "embedding")
        .orderBy("vec_id")),
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup (Abbas et al. 2023): k-means cells as the candidate
      // generator (data-adaptive, vs embed_apply's oblivious sign-LSH),
      // exact in-cell cosine, keep-min per component
      Similarity.semanticDedup(emb(s, dir), "vec_id", "embedding")
        .orderBy("vec_id")),
    "pipeline_recipe" -> ((s, dir) => {
      // the full C4-style training-data recipe composed from the
      // engine's own stages — quality filter → exact dedup (keep-first)
      // → token-budget shard pack over the survivors; one query pins
      // that the operators COMPOSE (stage order, attrition, and the
      // packed layout all verified against one chained-CTE oracle)
      // persist barriers at both forks (the file-wide convention): `d`
      // feeds the filter AND its semi-join probe; `qdocs` feeds the
      // md5 agg AND its semi-join probe — without them the source scan
      // + tokenization re-runs once per fork
      val d = docs(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = CorpusStats.qualityFilter(d, "doc_id", "text")
        .filter(col("kept")).select("doc_id")
      val qdocs = d.join(kept, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keepers = graft.ops.Dedup.exact(qdocs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val ddocs = qdocs.join(keepers, Seq("doc_id"), "left_semi")
      CorpusStats.shardByTokenBudget(ddocs, "doc_id", "text",
        shardTokens = 2000L, bucketSize = 50L).orderBy("doc_id")
    }),
    "docstats_fused" -> ((s, dir) => {
      // the RefinedWeb-shape fused signal vector: repetition + signal
      // ratios + readability + a documented composite in ONE projection
      // over one tokenize pass — the at-scale form of four signal jobs.
      // The documents fixture has ZERO sentence terminators (the same
      // vacuity that moved text_readability to the extraction corpus),
      // so the text is deterministically AUGMENTED with doc_id-varied
      // terminator tails — both engines build the same string and the
      // sentence axis verifies non-vacuously
      val aug = docs(s, dir).select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 3 === 0, lit(" End one. Two more? Yes!"))
            .when(col("doc_id") % 3 === 1, lit(" tail without terminator"))
            .otherwise(lit(" Mixed!? runs... end"))).as("text"))
      CorpusStats.signalsFused(aug, "doc_id", "text").orderBy("doc_id")
    }),
    "text_script_mix" -> ((s, _) =>
      // mixed-script spam / wrong-decode signal over the extraction
      // corpus (CJK/Cyrillic/Arabic charset fixtures exercise every
      // class); literal-range classes parse identically in Java and
      // RE2 where \\p{script} spellings differ
      CorpusStats.scriptMix(extracted(s), "url", "text").orderBy("url")),
    "lang_script_consistency" -> ((s, _) => {
      // language-vs-script triage: a page whose PREDICTED language
      // disagrees with its DOMINANT script class is a mojibake /
      // wrong-decode / spam suspect (the CC quality-triage cross-check
      // composing text_langid with text_script_mix). expected_script is
      // a closed lang→script map (Hebrew maps to 'other' — the class
      // set tracks latin/cjk/cyrillic/arabic only); 'und' and unmapped
      // codes carry NULL (unchecked, not inconsistent). dominant is the
      // FIRST class in fixed order hitting the milli max — the simple
      // CASE evaluates in identical order in both engines, so ties are
      // deterministic. Both inputs read the one cached extraction
      // relation; the join is url-keyed on 600-row fixture grain.
      val ex = extracted(s)
      val langs = ex.select(col("url"), langIdUdf(col("text")).as("pred_lang"))
      val mix = CorpusStats.scriptMix(ex, "url", "text")
        .select("url", "latin_milli", "cjk_milli", "cyrillic_milli",
          "arabic_milli", "other_milli")
      langs.join(mix, Seq("url"))
        .withColumn("expected_script", expr("""
          CASE pred_lang
            WHEN 'eng' THEN 'latin' WHEN 'rus' THEN 'cyrillic'
            WHEN 'zho' THEN 'cjk' WHEN 'jpn' THEN 'cjk'
            WHEN 'kor' THEN 'cjk' WHEN 'ara' THEN 'arabic'
            WHEN 'fas' THEN 'arabic' WHEN 'urd' THEN 'arabic'
            WHEN 'heb' THEN 'other' ELSE NULL END"""))
        // all-five-zero millis ⇔ n_chars = 0 (a non-empty page always
        // gives other_milli > 0 for unclassified chars): an EMPTY page
        // has NO dominant script — NULL, never a fabricated 'latin'
        .withColumn("dominant_script", expr("""
          CASE WHEN greatest(latin_milli, cjk_milli, cyrillic_milli,
                             arabic_milli, other_milli) = 0 THEN NULL
               WHEN latin_milli = greatest(latin_milli, cjk_milli,
                 cyrillic_milli, arabic_milli, other_milli) THEN 'latin'
               WHEN cjk_milli = greatest(latin_milli, cjk_milli,
                 cyrillic_milli, arabic_milli, other_milli) THEN 'cjk'
               WHEN cyrillic_milli = greatest(latin_milli, cjk_milli,
                 cyrillic_milli, arabic_milli, other_milli) THEN 'cyrillic'
               WHEN arabic_milli = greatest(latin_milli, cjk_milli,
                 cyrillic_milli, arabic_milli, other_milli) THEN 'arabic'
               ELSE 'other' END"""))
        .withColumn("consistent",
          expr("CASE WHEN expected_script IS NULL THEN NULL " +
            "ELSE expected_script = dominant_script END"))
        .select("url", "pred_lang", "expected_script", "dominant_script",
          "consistent")
        .orderBy("url")
    }),
    "host_boilerplate" -> ((s, dir) => {
      // per-host template-share signal over a synthetic 20-host layout
      // of the documents table — duplicate docs landing on one host
      // make their shared passage windows that host's template
      val urls = docs(s, dir).select(
        concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/d"), col("doc_id").cast("string")).as("url"),
        col("text"))
      CorpusStats.hostBoilerplate(urls, "url", "text", minDocs = 2)
        .orderBy("url")
    }),
    "bitext_candidates" -> ((s, dir) => {
      // ParaCrawl-style URL matching over a deterministically derived
      // multilingual site layout: article k = doc_id div 3 lives at
      // site{k%7}/{marker}/article{k}, so up to 3 language editions
      // share one slot; %11 docs publish an UNMARKED path (negative)
      // and %13 docs carry a region-qualified marker (lang-us)
      val art = expr("doc_id div 3").cast("string")
      val hostPart = expr("(doc_id div 3) % 7").cast("string")
      val mk = when(col("doc_id") % 13 === 0,
        concat(col("lang"), lit("-us"))).otherwise(col("lang"))
      val urls = docs(s, dir).select(
        when(col("doc_id") % 11 === 0,
          concat(lit("https://site"), hostPart,
            lit(".example.com/static/page"), col("doc_id").cast("string")))
          .otherwise(concat(lit("https://site"), hostPart,
            lit(".example.com/"), mk, lit("/article"), art)).as("url"))
      graft.ops.Bitext.urlParallelCandidates(urls, "url")
        .orderBy("host", "stripped_path")
    }),
    "badwords_filter" -> ((s, dir) =>
      // C4 blocklist drop: case-folded whole-token match against a
      // mixed-case fixture list (two corpus words + one absent);
      // null text pre-folded to '' → no tokens → kept (both engines)
      CorpusStats.badwordFilter(
        docs(s, dir).select(col("doc_id"),
          coalesce(col("text"), lit("")).as("text")),
        "doc_id", "text", Seq("Slow", "MERGE", "zzz-absent"))
        .orderBy("doc_id")),
    "extract_title" -> ((s, _) =>
      // page title (the doc-index field) — a KERNEL column, not a
      // substring under the title span: span offsets are UTF-16 code
      // units while SQL substr counts code points, so the plan-side
      // derivation would cut non-BMP titles wrong in BOTH engines
      // identically (invisible to the oracle)
      extracted(s).select(col("url"), col("title")).orderBy("url")),
    "extract_headings" -> ((s, _) =>
      // the content OUTLINE: kept heading blocks as (level, text) —
      // kernel-emitted like title (UTF-16 span offsets make SQL
      // substring derivation wrong in both engines identically)
      extracted(s)
        .select(col("url"), posexplode(col("headings")).as(Seq("idx", "h")))
        .select(col("url"), col("idx"), col("h.level").as("level"),
          col("h.text").as("htext"))
        .orderBy("url", "idx")),
    "extract_tables" -> ((s, _) =>
      // relational table view: every visible cell with its 0-based
      // (tbl, row, col) document-order ordinals and th flag — the
      // structured-data channel tabular miners explode into rows
      extracted(s)
        .select(col("url"), explode(col("cells")).as("c"))
        .select(col("url"), col("c.tbl").as("tbl"), col("c.row").as("row"),
          col("c.col").as("col"), col("c.header").as("header"),
          col("c.text").as("ctext"))
        .orderBy("url", "tbl", "row", "col")),
    "corpus_filter" -> ((s, dir) =>
      // composed C4-style keep/reject with typed reasons; rows never drop
      CorpusStats.qualityFilter(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "shard_pack" -> ((s, dir) =>
      // token-budget shard assignment via distributed two-phase prefix sum
      CorpusStats.shardByTokenBudget(docs(s, dir), "doc_id", "text",
        shardTokens = 2000L, bucketSize = 50L).orderBy("doc_id")),
    "docstats_signals" -> ((s, dir) =>
      // stopword/punct ratio quality signals, integer milli-exact
      CorpusStats.qualitySignals(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    "text_readability" -> ((s, _) =>
      // Flesch reading-ease in integer milli-units (vowel-run syllable
      // heuristic, [.!?]-run sentences) — a routing signal for tiers.
      // Runs over the EXTRACTION output: the documents fixture has zero
      // sentence terminators (its sentence axis would verify vacuously);
      // extracted article text exercises real punctuation. The bench
      // times the same projection over the sf-scaled documents table.
      CorpusStats.readability(extracted(s), "url", "text")
        .orderBy("doc_id")),
    "text_sentences" -> ((s, _) =>
      // deterministic sentence grain ([.!?]-run chunks, terminator
      // attached) — the segmentation readability's counts agree with;
      // over the extraction output for the same fixture-richness reason
      CorpusStats.sentences(extracted(s), "url", "text")
        .orderBy("doc_id", "sent_idx")),
    "media_resize" -> ((s, dir) =>
      // aspect-preserving fit into 224×224 (the pre-encoder plan): pure
      // integer milli-scale math over the stub metadata — the resample
      // itself is codec-side work; the PLAN is what the pipeline owns
      Media.resizeFit(
        Media.metaFromBinary(
          docs(s, dir).select(col("doc_id"),
            col("text").cast("binary").as("payload")), headerParse = false),
        224L, 224L)
        .select(col("doc_id"), col("width"), col("height"),
          col("scale_milli"), col("out_w"), col("out_h"))
        .orderBy("doc_id")),
    "media_frames" -> ((s, dir) =>
      // frame-sampling plumbing: ≤4 stride-sampled frame indices per
      // video row, exploded to the (doc, frame) grain an encoder batches
      Media.frameSample(
        Media.metaFromBinary(
          docs(s, dir).select(col("doc_id"),
            col("text").cast("binary").as("payload")), headerParse = false),
        maxFrames = 4)
        .orderBy("doc_id", "frame_idx")),
    "media_optimize" -> ((s, dir) =>
      // transcode-optimize analog (reference optimize.py): real deflate
      // candidate ladder + accept-only-if-smaller gate over the binary
      // payloads. Deflate output is not SQL-expressible, so this query
      // has NO oracleSql entry — the driver records a rows-only check;
      // the gate/guard semantics are pinned by OpsSpec units
      graft.ops.MediaOptimize.optimize(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        "doc_id", "payload")
        .orderBy("media_id")),
    "media_meta" -> ((s, dir) =>
      // headerParse=false: this query verifies the binary-column PLUMBING
      // against a SQL oracle, which can only express the stub arithmetic;
      // the real container-header parsers (production default) are pinned
      // by OpsSpec unit tests — and must never be reachable here, or a
      // future corpus whose text happens to start with a magic prefix
      // (e.g. "BM") would diverge from the oracle
      Media.metaFromBinary(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("payload")), headerParse = false)
        .orderBy("doc_id")),
    "sim_topk_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "join_broadcast" -> ((s, dir) => {
      // fact ⋈ broadcast(dim): the canonical big-join shape (SURVEY §2.7)
      // — orders stays partitioned, the small customer dim broadcasts, no
      // shuffle of the fact side; totals quantized to exact ints
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(floor(o_totalprice * 100) as bigint)"))
            .as("total_centi"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy("c_mktsegment")
    }),
    "sample_stratified" -> ((s, dir) =>
      // deterministic stratified hash sampling (CCNet-style per-language
      // rates): keep when the first 32 bits of md5(doc_id) fall under the
      // stratum's milli-rate threshold. Pure narrow filter — zero shuffle,
      // reproducible across engines and runs (no RNG)
      docs(s, dir)
        .filter(expr(
          """cast(conv(substring(md5(concat('strat:', cast(doc_id as string))), 1, 8), 16, 10) as bigint)
             < (case when lang = 'en' then 500 else 200 end) * 4294967296L div 1000"""))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),
    "join_semi" -> ((s, dir) => {
      // exact-dedup APPLY: keep only each content group's keeper row via a
      // broadcast LEFT SEMI join on the keeper-id set (small dim) — the
      // materialization step downstream of dedup_exact's keep_id column
      val d = docs(s, dir)
      val keepers = Dedup.exact(d, "doc_id", "text").select(col("keep_id"))
      d.join(broadcast(keepers), col("doc_id") === col("keep_id"), "left_semi")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "join_anti" -> ((s, dir) => {
      // blocklist filtering as a broadcast LEFT ANTI join — the standard
      // training-pipeline URL/domain exclusion shape: the blocklist is a
      // small dim (broadcast), the fact side never shuffles
      val d = docs(s, dir)
      val blocklist = d.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select(col("doc_id").as("bad_id"))
      d.join(broadcast(blocklist), col("doc_id") === col("bad_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "agg_rollup" -> ((s, dir) =>
      // hierarchical subtotals in ONE pass (rollup = grouping-sets agg:
      // partial aggregation expands grouping ids map-side, one shuffle)
      docs(s, dir).rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)),
    "agg_quantiles" -> ((s, dir) => {
      // EXACT order statistics per group via rank selection (one shuffle on
      // the group key + in-partition sort). The mergeable at-scale form is
      // `sketch_quantiles` below (native KLL aggregate); this exact form is
      // the oracle-checkable baseline the sketch is validated against.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val wn = Window.partitionBy("lang")
      docs(s, dir)
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .groupBy("lang")
        .agg(
          max(when(col("rn") === lit(1) + floor((col("n") - 1) * 0.5),
            col("n_chars"))).as("p50"),
          max(when(col("rn") === lit(1) + floor((col("n") - 1) * 0.9),
            col("n_chars"))).as("p90"),
          max(col("n_chars")).as("p100"))
        .orderBy("lang")
    }),
    "sketch_quantiles" -> ((s, dir) => {
      // mergeable KLL quantile sketch (native TypedImperativeAggregate):
      // map-side PARTIAL reduces every task to one ≤k·levels buffer, the
      // shuffle carries sketches not rows — the at-scale replacement for
      // the full-row shuffle in `agg_quantiles`. Rank arithmetic matches
      // the exact form, so at ≤k rows/group the result is bit-identical
      // and the SAME exact-rank DuckDB oracle pins it. k=8192 keeps every
      // per-lang group of the sf0.001-0.1 verify corpora inside that
      // exact regime (sf0.1's largest group is ~2k rows; k=1024 would
      // compact it and the oracle would red a CORRECT sketch); the >k
      // approximate regime is pinned by the OpsSpec units instead.
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .groupBy("lang")
        .agg(expr("kll_quantiles(cast(n_chars as double), 8192, 0.5, 0.9, 1.0)")
          .as("qs"))
        .select(col("lang"),
          col("qs").getItem(0).cast("long").as("p50"),
          col("qs").getItem(1).cast("long").as("p90"),
          col("qs").getItem(2).cast("long").as("p100"))
        .orderBy("lang")
    }),
    "agg_hmean" -> ((s, dir) =>
      // weighted harmonic-mean components (reference: page_dpi_profile,
      // pdfinfo/info.py:355-392 — sum(area)/sum(area/dpi) with builtins);
      // numerator/denominator quantized to exact ints for the oracle
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(expr("cast(floor(l_quantity * 100) as bigint)")).as("qty_centi"),
          sum(expr("cast(floor((l_quantity / l_extendedprice) * 1e9) as bigint)"))
            .as("ratio_nano"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),
    "events_json" -> ((s, dir) =>
      // semi-structured props column → typed field
      spark_read_events(s, dir).select(col("event_id"),
        expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
        .orderBy("event_id")),
    "events_hourly" -> ((s, dir) =>
      Events.hourly(spark_read_events(s, dir))),
    "events_ordered" -> ((s, dir) =>
      Events.ordered(spark_read_events(s, dir))),
    "events_sessionize" -> ((s, dir) =>
      Events.sessionize(spark_read_events(s, dir))),
    "events_range_join" -> ((s, dir) =>
      // point-in-interval range join via the disjoint-interval window
      // trick; the oracle is a literal BETWEEN join in DuckDB
      Events.rangeJoinSessions(spark_read_events(s, dir), "error",
        gapSec = 86400).orderBy("event_id")),
    "events_asof" -> ((s, dir) =>
      // as-of join via tagged-union window (one user_id shuffle); the
      // oracle is DuckDB's NATIVE ASOF JOIN — fully independent semantics
      Events.asofJoin(spark_read_events(s, dir), "purchase", "view")
        .orderBy("left_id")),
    "sim_topk_native" -> ((s, dir) => { // codegen'd CosineSim expression
      val e = emb(s, dir)
      Similarity.bruteForceTopKNative(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "sim_topk_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      // (centroids, nprobe) pinned explicitly: the oracle SQL encodes
      // this exact configuration, independent of the tunable defaults
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, centroids = 16, nprobe = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),
    "sim_topk_ivf_kmeans" -> ((s, dir) => {
      // IVF with REAL Lloyd-trained cells: training runs in exact integer
      // micro-units (order-independent sums, truncating integer means), so
      // the DuckDB oracle replays the same 3 iterations verbatim; in-cell
      // rerank is the shared exact double cosine
      val e = emb(s, dir)
      Similarity.ivfTopKKmeans(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, centroids = 16, nprobe = 4, iters = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    })
  )

  private val G = s"read_parquet('$goldenExtracted')"
  private val GS = s"read_parquet('$goldenSpans')"
  private val GL = s"read_parquet('$goldenLinks')"
  private val GH = s"read_parquet('$goldenHeadings')"
  private val GC = s"read_parquet('$goldenCells')"
  private def D(dir: String) = s"read_parquet('$dir/documents.parquet')"
  private def E(dir: String) = s"read_parquet('$dir/embeddings.parquet')"
  /** The sf dir the oracle SQL reads. The driver contract fixes
    * `oracleSql`'s signature (no dir parameter), so the dir rides on a
    * system property that `graft.Verify` sets from its own sfDir
    * argument — a Verify run on sf0.1 must not compare Spark-on-sf0.1
    * against DuckDB-on-sf0.01. Read per call (oracleSql is a def). */
  private def sf = sys.props.getOrElse("graft.oracle.sf", "/root/testdata/sf0.01")

  /** Lloyd k-means replay for the sim_topk_ivf_kmeans oracle: the same
    * hash-seeded init + `iters` assign/update rounds as
    * `Similarity.kmeansMicro`, in exact integer micro-units (floor(x·1e6)
    * longs; d² expanded via list_dot_product on doubles — every
    * intermediate ≤ ~3e14 is exactly representable, so the decomposition
    * equals Spark's long fold; centroid mean via `//`, which truncates
    * toward zero exactly like Spark `div`). One CTE block per iteration. */
  private def kmeansCtes(iters: Int, centroids: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${E(sf)}),
m AS (SELECT vec_id, v, list_transform(v, x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS vm FROM e),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cent_id, vm AS cm
  FROM m ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $centroids
)""")
    (1 to iters).foreach { i =>
      sb.append(s""",
d$i AS (
  SELECT m.vec_id, m.vm, c.cent_id,
    list_dot_product(m.vm::DOUBLE[], m.vm::DOUBLE[])
      - 2 * list_dot_product(m.vm::DOUBLE[], c.cm::DOUBLE[])
      + list_dot_product(c.cm::DOUBLE[], c.cm::DOUBLE[]) AS d2
  FROM m CROSS JOIN c${i - 1} c
),
a$i AS (
  SELECT vec_id, vm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM d$i
  ) WHERE rn = 1
),
u$i AS (
  SELECT cell, pos, CAST(sum(x) AS BIGINT) AS s, count(*) AS n FROM (
    SELECT cell, unnest(range(1, len(vm) + 1)) AS pos, unnest(vm) AS x FROM a$i
  ) GROUP BY cell, pos
),
n$i AS (
  SELECT cell AS cent_id, list(s // n ORDER BY pos) AS cm FROM u$i GROUP BY cell
),
c$i AS (
  SELECT p.cent_id, coalesce(nn.cm, p.cm) AS cm FROM c${i - 1} p LEFT JOIN n$i nn USING (cent_id)
)""")
    }
    sb.toString
  }

  /** Final k-means cell assignment against the trained centroids
    * `c{iters}` — the exact-integer d² argmin (rn = 1, tie → lower
    * cent_id) plus the shared zero-vector exclusion (training is
    * unfiltered on both sides, matching Spark's nonZeroVec contract).
    * ONE owner for the sim_topk_ivf_kmeans and dedup_semantic oracles:
    * produces `fd(vec_id, cent_id, d2)` (also ranked further by the IVF
    * probe side) and `fasg(vec_id, v, n, cell)`. */
  private def kmeansAssignCtes(iters: Int): String = s"""fd AS (
  SELECT m.vec_id, c.cent_id,
    list_dot_product(m.vm::DOUBLE[], m.vm::DOUBLE[])
      - 2 * list_dot_product(m.vm::DOUBLE[], c.cm::DOUBLE[])
      + list_dot_product(c.cm::DOUBLE[], c.cm::DOUBLE[]) AS d2
  FROM m CROSS JOIN c$iters c
),
fasg AS (
  SELECT f.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS n, f.cent_id AS cell
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM fd) f
  JOIN e ON e.vec_id = f.vec_id
  WHERE f.rn = 1 AND list_dot_product(e.v, e.v) > 0
)"""

  /** MinHash-LSH candidate CTE chain, shared by the dedup_minhash_lsh and
    * dedup_clusters oracles (the latter appends a recursive
    * connected-components walk over the same pair set). A def, not a
    * lazy val: the string interpolates D(sf), which reads the
    * graft.oracle.sf property — a lazy val would freeze the FIRST sf
    * seen for exactly these two oracles while every other oracle
    * followed the property. */
  /** Recursive connected-components walk over the LSH candidate pair
    * set (`ok` from [[lshCtes]]) ending in `cl(doc_id, keep)` — ONE
    * owner for the dedup_clusters and dedup_minhash_apply oracles (the
    * same anti-drift rationale as [[lshCtes]]; a def for the same
    * sf-property reason). */
  /** The walk itself, parameterized only by an upstream `p(doc_a,
    * doc_b)` pair CTE — shared by the minhash AND embedding cluster
    * oracles ('ud', not 'e': the embedding chain already binds `e`). */
  private def ccWalkCtes = """ud AS (
  SELECT doc_a AS s, doc_b AS d FROM p UNION SELECT doc_b, doc_a FROM p
), reach(id, r) AS (
  SELECT s, s FROM ud
  UNION
  SELECT ud.s, reach.r FROM ud JOIN reach ON reach.id = ud.d
), cl AS (
  SELECT id AS doc_id, min(r) AS keep FROM reach GROUP BY id
)"""

  /** URL-canonicalization CTE chain — ONE owner for the url_dedup and
    * crawl_frontier oracles (the [[graft.ops.Urls.canon]] algebra,
    * replayed step-for-step in DuckDB). Reads `$src(url)`, produces
    * `${p}c(url, canon)`; `p` prefixes every intermediate CTE name so
    * the chain can appear twice in one query. */
  private def canonCtes(src: String, p: String) =
    s"""${canonPartCtes(src, p)},
${p}c AS (SELECT url, scheme || '://' || host || portpart || path2 ||
        CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon FROM ${p}s6)"""

  /** The component chain behind [[canonCtes]] (ends at `${"$"}{p}s6`
    * with scheme/host/portpart/path2/qs columns) — shared with the
    * cdx_index oracle, whose SURT key reassembles the SAME components
    * in sort-friendly order instead of canonical-URL order. */
  private def canonPartCtes(src: String, p: String) = s"""${p}s1 AS (SELECT url, split_part(url, '#', 1) AS nf FROM $src),
${p}s2 AS (SELECT url, nf, split_part(nf, '?', 1) AS base FROM ${p}s1),
-- scheme split at the FIRST '://' only (split_part(..,2) returns the
-- second FIELD and truncated path-embedded '://'); userinfo dropped at
-- the LAST '@'; '[...]'-bracketed IPv6 hosts keep their ']:'-port
${p}s3 AS (SELECT url, nf, base,
       CASE WHEN instr(base, '://') > 0 THEN substr(base, instr(base, '://') + 3) ELSE '' END AS rest,
       CASE WHEN instr(base, '://') > 0 THEN lower(substr(base, 1, instr(base, '://') - 1)) ELSE lower(base) END AS scheme FROM ${p}s2),
${p}s4 AS (SELECT *, split_part(rest, '/', 1) AS auth,
       CASE WHEN instr(rest, '/') > 0 THEN substr(rest, instr(rest, '/')) ELSE '/' END AS path,
       CASE WHEN instr(nf, '?') > 0 THEN substr(nf, length(base) + 2) ELSE '' END AS q FROM ${p}s3),
${p}s4b AS (SELECT *, list_extract(string_split(auth, '@'), -1) AS hostport FROM ${p}s4),
${p}s5 AS (SELECT *,
       CASE WHEN hostport LIKE '[%' THEN lower(substr(hostport, 1, instr(hostport, ']')))
            ELSE lower(split_part(hostport, ':', 1)) END AS host,
       CASE WHEN hostport LIKE '[%' THEN
              (CASE WHEN substr(hostport, instr(hostport, ']') + 1, 1) = ':' THEN substr(hostport, instr(hostport, ']') + 2) ELSE '' END)
            ELSE split_part(hostport, ':', 2) END AS port FROM ${p}s4b),
${p}s6 AS (SELECT *,
       CASE WHEN port = '' THEN ''
            WHEN scheme = 'http' AND port = '80' THEN ''
            WHEN scheme = 'https' AND port = '443' THEN ''
            ELSE ':' || port END AS portpart,
       CASE WHEN path != '/' AND path LIKE '%/' THEN substr(path, 1, length(path) - 1) ELSE path END AS path2,
       -- coalesce: DuckDB array_to_string([]) is NULL where Spark
       -- array_join([]) is '' — the empty-query rows must not null out
       coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
         x -> x != '' AND substr(x, 1, 4) != 'utm_')), '&'), '') AS qs FROM ${p}s5)"""

  /** Distinct-shingle intersection CTE chain — ONE owner for the
    * dedup_ngram_jaccard and dedup_containment oracles (the
    * [[graft.ops.Dedup]] gramIntersections core, replayed in DuckDB).
    * Reads docs `src`, produces `sizes(doc_id, sz)` and
    * `inter(doc_a, doc_b, inter)`. */
  private def gramInterCtes(src: String) = s"""sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(length(text)-7, 1)+1, 4), i -> substr(text, i, 8)))) AS sh
  FROM $src
), bucketed AS (
  SELECT *, count(*) OVER (PARTITION BY sh) AS bucket_n FROM sh
), ok AS (SELECT * FROM bucketed WHERE bucket_n <= 100),
-- sizes over the SAME capped universe as the intersection join: hot
-- shingles are outside the metric entirely, never denominator-only
sizes AS (SELECT doc_id, count(*) AS sz FROM ok GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM ok a JOIN ok b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

  /** Bigram-LM CTE chain — ONE owner for the lm_bigram and
    * quality_tiers oracles (the [[graft.ops.Lm.bigramScore]] algebra,
    * replayed in DuckDB). Reads the docs table `src`, produces
    * `per(doc_id, n_bigrams, sum_cnt, n_rare)`. */
  /** The (doc_id, gram, tf) bigram-grain CTE prefix — ONE owner of the
    * tokenize→bigram→tf algebra shared by [[lmCtes]] (self-scored
    * model) and the lm_score_heldout oracle (frozen even-split model):
    * a drifting copy would silently un-sync train vs apply grams. */
  private def gramCtes(src: String) = s"""w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM $src
), g AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
    THEN list_transform(range(1, len(ws)), i -> md5(array_to_string(ws[i:i+1], ' ')))
    ELSE [] END) AS gram
  FROM w
), grain AS (
  SELECT doc_id, gram, count(*) AS tf FROM g GROUP BY doc_id, gram
)"""

  private def lmCtes(src: String) = s"""${gramCtes(src)}, model AS (
  SELECT gram, CAST(sum(tf) AS BIGINT) AS cnt FROM grain GROUP BY gram
), per AS (
  SELECT grain.doc_id,
    CAST(sum(tf) AS BIGINT) AS n_bigrams,
    CAST(sum(tf * cnt) AS BIGINT) AS sum_cnt,
    CAST(sum(CASE WHEN cnt = 1 THEN tf ELSE 0 END) AS BIGINT) AS n_rare
  FROM grain JOIN model USING (gram) GROUP BY grain.doc_id
)"""

  /** CCNet tier CTE chain — ONE owner for the quality_tiers /
    * tier_sample / importance_shift / mix_plan / quality_tiers_by_lang
    * oracles (the [[graft.ops.Lm.qualityTiers]] algebra: LM score →
    * value-threshold terciles). Appends to [[lmCtes]]; produces
    * `tiered(doc_id, grp, score, tier)`. `grpExpr` (a SQL expression
    * over the source alias `d`) picks the population the terciles are
    * computed WITHIN — the default single constant group is the global
    * variant; `d.lang` is the per-language CCNet form. */
  private def tierCtes(src: String, grpExpr: String = "'all'") = s"""${lmCtes(src)},
scored AS (
  SELECT d.doc_id, $grpExpr AS grp,
    CAST((1000 * coalesce(p.sum_cnt, 0)) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT) AS score
  FROM $src d LEFT JOIN per p USING (doc_id)
),
hist AS (SELECT grp, score, CAST(count(*) AS BIGINT) AS c FROM scored GROUP BY grp, score),
cum AS (
  SELECT grp, score, CAST(sum(c) OVER (PARTITION BY grp ORDER BY score
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
),
nn AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY grp),
thr AS (
  SELECT cum.grp, min(CASE WHEN cum * 3 >= n THEN score END) AS t_tail,
         min(CASE WHEN cum * 3 >= n * 2 THEN score END) AS t_mid
  FROM cum JOIN nn USING (grp) GROUP BY cum.grp
),
tiered AS (
  SELECT doc_id, scored.grp AS grp, score,
    CASE WHEN score <= t_tail THEN 'tail'
         WHEN score <= t_mid THEN 'middle'
         ELSE 'head' END AS tier
  FROM scored JOIN thr USING (grp)
)"""

  /** Host-extraction CTE chain — ONE owner for the '#'/'?'-strip →
    * first-'://' split → last-'@' userinfo drop → '['-bracketed-IPv6
    * host algebra ([[graft.ops.Urls.hostOf]], replayed in DuckDB; a
    * hand-spelled copy drifting in any consumer would silently un-sync
    * its host column from the Spark side). Reads `$src` carrying
    * `$carry` (a column list) and the url column `$urlCol`; produces
    * `${p}h($carry, host)`. Now a pure projection of [[hostPathCtes]]
    * — the algebra lives in exactly one place. */
  private def hostCtes(src: String, urlCol: String, carry: String,
      p: String) = s"""${hostPathCtes(src, urlCol, carry, p)},
${p}h AS (SELECT $carry, host FROM ${p}hp)"""

  /** [[hostCtes]] plus the raw path (query/fragment stripped, absent
    * path → '/') — the DuckDB twin of `Urls.hostOf` + `Urls.pathOf`
    * over one shared rest derivation. Produces `${"$"}{p}hp`
    * (carry, host, path). (Robots.oracleSql carries its own inline
    * copy of this chain — it is a self-contained module oracle.) */
  private def hostPathCtes(src: String, urlCol: String, carry: String,
      p: String) = s"""${p}p1 AS (SELECT $carry, split_part(split_part($urlCol, '#', 1), '?', 1) AS base FROM $src),
${p}p2 AS (SELECT $carry, CASE WHEN instr(base, '://') > 0 THEN substr(base, instr(base, '://') + 3) ELSE '' END AS rest FROM ${p}p1),
${p}p3 AS (SELECT $carry, rest, list_extract(string_split(split_part(rest, '/', 1), '@'), -1) AS hostport FROM ${p}p2),
${p}hp AS (SELECT $carry,
  CASE WHEN hostport LIKE '[%' THEN lower(substr(hostport, 1, instr(hostport, ']')))
       ELSE lower(split_part(hostport, ':', 1)) END AS host,
  CASE WHEN instr(rest, '/') > 0 THEN substr(rest, instr(rest, '/')) ELSE '/' END AS path FROM ${p}p3)"""

  /** Registrable-domain CTE chain — ONE owner for the url_domains and
    * domain_stats oracles (the [[graft.ops.Urls.registrableDomains]]
    * algebra, replayed in DuckDB). Reads `raw(url)`, produces
    * `dj(url, host, public_suffix, registrable)`. */
  private def domainCtes = s"""psl(suf_rule) AS (VALUES
  ${graft.ops.Urls.publicSuffixValuesSql}),
${hostCtes("raw", "url", "url", "d")},
dwh AS (SELECT url, host, string_split(host, '.') AS hp,
  (host LIKE '[%' OR regexp_matches(host, '^[0-9.]+$$')) AS isip FROM dh),
dsufs AS (
  SELECT url, unnest(range(1, len(hp) + 1)) AS i,
    unnest(list_transform(range(1, len(hp) + 1),
      i -> array_to_string(hp[i:len(hp)], '.'))) AS suf
  FROM dwh),
dm AS (SELECT url, min(i) AS mi FROM dsufs JOIN psl ON suf = suf_rule GROUP BY url),
dj AS (SELECT url, host,
  CASE WHEN isip THEN '' ELSE array_to_string(hp[si:len(hp)], '.') END AS public_suffix,
  CASE WHEN isip OR si = 1 THEN '' ELSE array_to_string(hp[si - 1:len(hp)], '.') END AS registrable
  FROM (SELECT dwh.*, coalesce(dm.mi, len(hp)) AS si
        FROM dwh LEFT JOIN dm USING (url)))"""

  private def ccCtes = s"""p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok a JOIN ok b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), $ccWalkCtes"""

  /** Sign-LSH embedding candidate chain ending in `scored(doc_a, doc_b,
    * rawcos)` — ONE owner for the dedup_embed_cosine and
    * dedup_embed_apply oracles (same anti-drift + sf-property rationale
    * as [[lshCtes]]). */
  private def embedLshCtes = s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${E(sf)}),
coef AS (
  SELECT p, d, CASE WHEN strpos('89abcdef', substring(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END AS c
  FROM range(0, 64) t1(p), range(0, 64) t2(d)
), planes AS (SELECT p, list(c ORDER BY d) AS cs FROM coef GROUP BY p),
bitsrc AS (
  SELECT e.vec_id, pl.p, CASE WHEN list_dot_product(pl.cs, e.v) >= 0 THEN 1 ELSE 0 END AS b
  FROM e CROSS JOIN planes pl
), sig AS (SELECT vec_id, list(b ORDER BY p) AS bits FROM bitsrc GROUP BY vec_id),
banded AS (
  SELECT vec_id, bits, k AS band_idx,
    CAST(list_sum(list_transform(range(0, 8), j -> bits[k*8 + j + 1] * (1 << j))) AS INT) AS band_val
  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS k) ks
), sized AS (
  SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bucket_n FROM banded
), ok AS (SELECT * FROM sized WHERE bucket_n <= 10000),
cand AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM ok a JOIN ok b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
), scored AS (
  SELECT doc_a, doc_b,
    list_dot_product(va.v, vb.v) / (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) AS rawcos
  FROM cand JOIN e va ON va.vec_id = doc_a JOIN e vb ON vb.vec_id = doc_b
)"""

  /** Publication-date cascade CTE over the golden table — the DuckDB
    * mirror of [[pubdated]], ONE owner for the extract_pubdate and
    * domain_freshness oracles. Produces `px(url, host, pubdate,
    * source)`. The json_valid guard pins DuckDB's hard-error JSON
    * parser to Spark's null-on-garbage get_json_object contract;
    * residual strictness gap documented at the extract_pubdate oracle.
    * Host = split_part(url,'/',3) — the corpus's urls carry no
    * userinfo/ports, same convention as the host_quality oracle. */
  private def pubdateCtes = s"""px0 AS (
  SELECT url, split_part(url, '/', 3) AS host, warc_ts,
    list_filter(list_transform(ldjson,
      p -> CASE WHEN json_valid(p)
                THEN json_extract_string(p, '$$."datePublished"') END),
      x -> x IS NOT NULL)[1] AS ld,
    list_filter(metas, m -> m.name = 'article:published_time')[1].content AS mt
  FROM $G
),
px AS (
  SELECT url, host,
    coalesce(substr(ld, 1, 10), substr(mt, 1, 10),
      strftime(warc_ts, '%Y-%m-%d')) AS pubdate,
    CASE WHEN ld IS NOT NULL THEN 'ldjson'
         WHEN mt IS NOT NULL THEN 'meta'
         ELSE 'capture' END AS source
  FROM px0
)"""

  /** Script-class char-count/milli CTEs over the golden table — ONE
    * owner of the script-class regex algebra (whitespace set, the four
    * literal codepoint ranges, milli division), consumed by BOTH
    * `text_script_mix` and `lang_script_consistency`: a drifted copy
    * would let the two oracles disagree on what a script class is.
    * `sm` carries counts AND millis (and pred_lang) so either consumer
    * projects what it needs. */
  private def scriptCtes = s"""sc AS (
  SELECT url, pred_lang, coalesce(text, '') AS t FROM $G
),
sn AS (
  SELECT url, pred_lang,
    CAST(length(regexp_replace(t, '[ \\t\\n\\r\\f  -   　]', '', 'g')) AS BIGINT) AS n_chars,
    CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
    CAST(length(t) - length(regexp_replace(t, '[一-鿿぀-ヿ]', '', 'g')) AS BIGINT) AS n_cjk,
    CAST(length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
    CAST(length(t) - length(regexp_replace(t, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic
  FROM sc
),
sm AS (
  SELECT url, pred_lang, n_chars, n_latin, n_cjk, n_cyrillic, n_arabic,
    CAST((1000 * n_latin) // greatest(n_chars, 1) AS BIGINT) AS latin_milli,
    CAST((1000 * n_cjk) // greatest(n_chars, 1) AS BIGINT) AS cjk_milli,
    CAST((1000 * n_cyrillic) // greatest(n_chars, 1) AS BIGINT) AS cyrillic_milli,
    CAST((1000 * n_arabic) // greatest(n_chars, 1) AS BIGINT) AS arabic_milli,
    CAST((1000 * (n_chars - n_latin - n_cjk - n_cyrillic - n_arabic)) // greatest(n_chars, 1) AS BIGINT) AS other_milli
  FROM sn
)"""

  /** DuckDB mirror of [[revisitLog]] — base + caps CTEs, consumed by
    * the `cdx_revisit` and `cdx_retention` oracles. */
  private def revisitLogCtes = s"""base AS (
  SELECT url, warc_ts AS ts, md5(coalesce(text, '')) AS digest,
    ('0x' || substring(md5(url), 1, 6))::BIGINT AS coin,
    coalesce(text, '') AS t
  FROM $G
),
caps AS (
  SELECT url, ts, digest FROM base
  UNION ALL SELECT url, ts + INTERVAL 1 DAY, digest FROM base WHERE coin % 3 = 0
  UNION ALL SELECT url, ts + INTERVAL 2 DAY, md5(t || 'v2') FROM base WHERE coin % 5 = 0
  UNION ALL SELECT url, ts + INTERVAL 3 DAY, digest FROM base WHERE coin % 15 = 0
)"""

  private def lshCtes = s"""shingled AS (
  SELECT doc_id, list_transform(range(1, greatest(length(text)-7, 1)+1, 4), i -> substr(text, i, 8)) AS sh
  FROM ${D(sf)}
), sig AS (
  SELECT doc_id, list_transform(range(0, 8), s -> list_min(list_transform(sh, x -> md5(concat(CAST(s AS VARCHAR), ':', x))))) AS sig
  FROM shingled
), banded AS (
  SELECT doc_id, sig, b.b AS band_idx, md5(array_to_string(sig[b.b*2+1:b.b*2+2], '|')) AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
), sized AS (
  SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bucket_n FROM banded
), ok AS (SELECT * FROM sized WHERE bucket_n <= 50)"""

  def oracleSql: Map[String, String] = Map(
    "extract_text" ->
      s"SELECT url, text, outcome, engine FROM $G ORDER BY url",
    "extract_warc" ->
      s"SELECT url, text, outcome, engine FROM $G ORDER BY url",
    "extract_spans" ->
      s"""SELECT url, idx, start, "end", kind, path FROM $GS ORDER BY url, idx""",
    "triage_sniff" ->
      s"SELECT url, format, charset FROM $G ORDER BY url",
    "extract_ldjson" -> s"""
WITH x AS (
  SELECT url, unnest(range(0, len(ldjson))) AS idx, unnest(ldjson) AS payload
  FROM $G
)
SELECT url, CAST(idx AS BIGINT) AS idx, payload,
  -- json_valid guard: verbatim-captured payloads can be garbage, and
  -- json_extract_string hard-errors where Spark's get_json_object
  -- returns NULL (same contract as the extract_pubdate guard)
  CASE WHEN json_valid(payload)
       THEN json_extract_string(payload, '$$."@type"') END AS item_type
FROM x ORDER BY url, idx""",
    "extract_metas" -> s"""
WITH x AS (
  SELECT url, unnest(range(0, len(metas))) AS idx, unnest(metas) AS m
  FROM $G
)
SELECT url, CAST(idx AS BIGINT) AS idx, m.name AS name,
  m.content AS content, starts_with(m.name, 'og:') AS opengraph
FROM x ORDER BY url, idx""",
    "extract_pubdate" -> s"""
-- cascade owner: pubdateCtes (json_valid guard: the kernel captures
-- ld+json VERBATIM, and DuckDB's json_extract_string HARD-ERRORS on
-- malformed JSON where Spark's get_json_object returns NULL.
-- Residual asymmetry (accepted): Spark's Jackson parser is LOOSER
-- than json_valid (unquoted control chars, trailing junk after the
-- root), so an almost-JSON payload could score in Spark and NULL
-- here; the fixture generator emits only strict JSON, and any future
-- fixture in that gap reds the compare rather than passing silently —
-- the safe failure direction)
WITH $pubdateCtes
SELECT url, pubdate, source FROM px ORDER BY url""",
    "domain_freshness" -> s"""
WITH $pubdateCtes
SELECT host, CAST(count(*) AS BIGINT) AS n_pages,
  min(pubdate) AS oldest, max(pubdate) AS newest,
  CAST(sum(CASE WHEN source = 'ldjson' THEN 1 ELSE 0 END) AS BIGINT) AS n_ldjson,
  CAST(sum(CASE WHEN source = 'meta' THEN 1 ELSE 0 END) AS BIGINT) AS n_meta,
  CAST(sum(CASE WHEN source = 'capture' THEN 1 ELSE 0 END) AS BIGINT) AS n_capture
FROM px GROUP BY 1 ORDER BY host""",
    "extract_fertility" -> s"""
SELECT pred_lang, count(*) AS n_docs,
  CAST(sum(tokens_bpe) AS BIGINT) AS bpe_tokens,
  CAST(sum(tokens_ws) AS BIGINT) AS ws_tokens,
  CAST((sum(tokens_bpe) * 1000) // sum(tokens_ws) AS BIGINT) AS fertility_milli
FROM $G WHERE tokens_ws > 0
GROUP BY 1 ORDER BY pred_lang""",
    "feed_discovery" -> s"""
WITH x AS (
  SELECT url, unnest(range(0, len(feeds))) AS idx, unnest(feeds) AS feed_url
  FROM $G
)
SELECT url, CAST(idx AS BIGINT) AS idx, feed_url
FROM x ORDER BY url, idx""",
    "url_trap_signal" -> s"""
WITH g AS (SELECT url FROM $G),
${hostPathCtes("g", "url", "url", "t")},
sk AS (
  SELECT url, host,
    regexp_replace(path, '[0-9]+', 'N', 'g') AS skeleton
  FROM thp
)
SELECT host, skeleton, count(*) AS n_urls, min(url) AS exemplar,
  count(*) >= 24 AS trap
FROM sk GROUP BY host, skeleton
ORDER BY host, skeleton""",
    "cdx_revisit" -> s"""
WITH $revisitLogCtes,
w AS (
  SELECT url, ts, digest,
    min(ts) OVER (PARTITION BY url, digest) AS first_ts
  FROM caps
)
SELECT url, ts, digest,
  CASE WHEN ts = first_ts THEN 'response' ELSE 'revisit' END AS record_type,
  CASE WHEN ts = first_ts THEN NULL ELSE first_ts END AS refers_to_ts
FROM w ORDER BY url, ts""",
    "cdx_retention" -> s"""
WITH $revisitLogCtes,
r AS (
  -- digest tie-break: the synthetic log has distinct ts per url today,
  -- but a tied (url, ts) must rank identically in both engines
  SELECT url, ts, digest, CAST(row_number() OVER (
    PARTITION BY url ORDER BY ts DESC, digest) AS BIGINT) AS rank_from_latest
  FROM caps
)
SELECT url, ts, digest, rank_from_latest,
  rank_from_latest <= 2 AS kept
FROM r ORDER BY url, ts""",
    "snapshot_diff" -> s"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM ${D(sf)}),
o AS (SELECT doc_id, md5(text) AS old_digest FROM d),
n AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS new_digest
  FROM d WHERE doc_id % 3 != 0
  UNION ALL
  SELECT doc_id + 1000000000000, md5(text) FROM d WHERE doc_id % 7 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS url,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN old_digest = new_digest THEN 'unchanged'
       ELSE 'changed' END AS status,
  coalesce(old_digest, '') AS old_digest,
  coalesce(new_digest, '') AS new_digest
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY url""",
    "sample_host_cap" -> s"""
WITH r AS (
  SELECT url, split_part(url, '/', 3) AS host,
    row_number() OVER (PARTITION BY split_part(url, '/', 3)
      ORDER BY md5('hostcap:' || url), url) AS host_rank
  FROM $G
)
SELECT url, host, CAST(host_rank AS BIGINT) AS host_rank,
  host_rank <= 12 AS kept
FROM r ORDER BY host, host_rank""",
    "cdx_index" -> s"""
WITH ${canonPartCtes(s"(SELECT url FROM $G)", "x")},
surt AS (
  SELECT url, array_to_string(list_reverse(string_split(host, '.')), ',') || portpart || ')' || path2 ||
    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS surt_key
  FROM xs6
),
gg AS (SELECT url, warc_ts, text FROM $G)
SELECT s.surt_key, strftime(gg.warc_ts, '%Y%m%d%H%M%S') AS ts14,
  gg.url AS url, md5(coalesce(gg.text, '')) AS digest,
  CAST(coalesce(length(gg.text), 0) AS BIGINT) AS n_chars
FROM surt s JOIN gg ON gg.url = s.url
ORDER BY surt_key, ts14, url""",
    "extract_metrics" ->
      s"SELECT engine, outcome, count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS chars FROM $G GROUP BY engine, outcome ORDER BY engine, outcome",
    "merge_ordered" ->
      s"SELECT split_part(url, '/', 3) AS host, count(*) AS n_docs, string_agg(outcome, chr(12) ORDER BY url) AS outcomes FROM $G GROUP BY 1 ORDER BY host",
    "host_stats_salted" ->
      s"SELECT split_part(url, '/', 3) AS host, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS chars FROM $G GROUP BY 1 ORDER BY host",
    "extract_dirlang" ->
      s"SELECT url, lang, dir FROM $G ORDER BY url",
    "extract_links" ->
      s"SELECT url, idx, raw, resolved, chrome, text FROM $GL ORDER BY url, idx",
    "link_hits" -> s"""
WITH el AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
    SELECT lower(split_part(url, '/', 3)) AS src,
           lower(split_part(resolved, '/', 3)) AS dst FROM $GL)
  WHERE src != dst GROUP BY 1, 2
),
${graft.ops.Graph.hitsOracleCtes(3)}
SELECT host, auth_micro, hub_micro FROM hits_out
ORDER BY auth_micro DESC, hub_micro DESC, host""",
    "extract_canonical" ->
      s"SELECT url, redirect, canonical FROM $G ORDER BY url",
    "url_dedup_canonical" -> s"""
WITH e0 AS (
  SELECT url, CASE WHEN canonical != '' THEN canonical ELSE url END AS eff
  FROM $G
),
ue(url) AS (SELECT DISTINCT eff FROM e0),
${canonCtes("ue", "k")},
m AS (SELECT e0.url, kc.canon AS ckey FROM e0 JOIN kc ON e0.eff = kc.url),
g AS (SELECT ckey, CAST(count(*) AS BIGINT) AS group_n, min(url) AS keep_url
      FROM m GROUP BY ckey)
SELECT m.url, m.ckey, g.keep_url, g.group_n
FROM m JOIN g USING (ckey) ORDER BY url""",
    "link_anchor_text" -> s"""
WITH lr0 AS (
  SELECT resolved AS url, text AS anchor FROM $GL WHERE NOT chrome AND text != ''
),
lr(url) AS (SELECT DISTINCT url FROM lr0),
${canonCtes("lr", "a")},
j AS (SELECT ac.canon, lr0.anchor FROM lr0 JOIN ac USING (url)),
g AS (SELECT canon, anchor, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2),
b AS (
  SELECT canon, anchor AS top_anchor, n AS top_n FROM (
    SELECT canon, anchor, n, row_number() OVER (
      PARTITION BY canon ORDER BY n DESC, anchor) AS rn FROM g) WHERE rn = 1
)
SELECT g.canon, CAST(sum(g.n) AS BIGINT) AS n_refs,
  CAST(count(*) AS BIGINT) AS n_texts, b.top_anchor, b.top_n
FROM g JOIN b USING (canon) GROUP BY g.canon, b.top_anchor, b.top_n
ORDER BY canon""",
    "anchor_expand" -> s"""
WITH lr0 AS (
  SELECT url AS src, resolved, text AS anchor FROM $GL WHERE text != ''
),
au(url) AS (
  SELECT resolved FROM lr0 UNION SELECT src FROM lr0
),
${canonCtes("au", "a")},
j AS (
  SELECT t.canon AS canon, sc.canon AS src_canon, lr0.anchor
  FROM lr0 JOIN ac t ON lr0.resolved = t.url JOIN ac sc ON lr0.src = sc.url
),
g AS (
  SELECT canon, anchor, CAST(count(*) AS BIGINT) AS n FROM j
  WHERE src_canon != canon GROUP BY 1, 2
),
r AS (
  SELECT canon, anchor, row_number() OVER (
    PARTITION BY canon ORDER BY n DESC, anchor) AS rk FROM g
),
agg AS (
  SELECT canon, CAST(count(*) AS BIGINT) AS n_anchors,
    string_agg(anchor, ' ' ORDER BY rk) AS anchors_txt
  FROM r WHERE rk <= 5 GROUP BY canon
),
pg(url) AS (SELECT url FROM $G),
${canonCtes("pg", "p")}
SELECT g.url,
  coalesce(agg.n_anchors, 0) AS n_anchors,
  CASE WHEN agg.anchors_txt IS NULL THEN coalesce(g.text, '')
       ELSE coalesce(g.text, '') || ' ' || agg.anchors_txt END AS expanded_text
FROM $G g JOIN pc ON g.url = pc.url
LEFT JOIN agg ON pc.canon = agg.canon
ORDER BY g.url""",
    "link_hostgraph" ->
      s"""SELECT lower(split_part(url, '/', 3)) AS src_host,
  lower(split_part(resolved, '/', 3)) AS dst_host,
  count(*) AS n_links, CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
  CAST(sum(CASE WHEN chrome THEN 1 ELSE 0 END) AS BIGINT) AS n_chrome
FROM $GL GROUP BY 1, 2 ORDER BY src_host, dst_host""",
    "link_spam_signal" -> s"""
WITH pg AS (
  SELECT lower(split_part(url, '/', 3)) AS host, count(*) AS n_pages,
    CAST(sum(tokens_ws) AS BIGINT) AS n_words
  FROM $G GROUP BY 1
),
lk AS (
  SELECT lower(split_part(url, '/', 3)) AS host,
    count(*) AS n_links,
    CAST(sum(CASE WHEN lower(split_part(resolved, '/', 3)) = lower(split_part(url, '/', 3)) THEN 1 ELSE 0 END) AS BIGINT) AS n_intra,
    CAST(sum(CASE WHEN chrome THEN 1 ELSE 0 END) AS BIGINT) AS n_chrome
  FROM $GL GROUP BY 1
)
SELECT pg.host, pg.n_pages, pg.n_words,
  coalesce(lk.n_links, 0) AS n_links, coalesce(lk.n_intra, 0) AS n_intra,
  coalesce(lk.n_chrome, 0) AS n_chrome,
  (1000 * coalesce(lk.n_links, 0)) // greatest(pg.n_words, 1) AS link_density_milli,
  (1000 * coalesce(lk.n_intra, 0)) // greatest(coalesce(lk.n_links, 0), 1) AS intra_ratio_milli
FROM pg LEFT JOIN lk USING (host) ORDER BY host""",
    "extract_modes" ->
      s"SELECT url, mode, outcome, engine, n_spans, text_md5 FROM read_parquet('$goldenModes') ORDER BY mode, url",
    "pages_subset" ->
      // '200-end' stays OPEN-ENDED here too (doc_id >= 199): baking the
      // corpus max in (BETWEEN 199 AND 499) froze the sf0.01 size into
      // SQL and would red-out every other sf dir
      s"SELECT doc_id, n_chars FROM ${D(sf)} WHERE (doc_id BETWEEN 0 AND 49) OR doc_id = 110 OR doc_id >= 199 ORDER BY doc_id",
    "extract_subset" ->
      // the 590-end clause stays OPEN-ENDED (>= 590), same convention as
      // pages_subset above: baking the corpus max in (BETWEEN 590 AND
      // 600) would freeze verifyN into SQL and red a correct pipeline
      // the day verifyN grows
      s"SELECT url, text, outcome FROM $G WHERE CAST(regexp_extract(url, 'p(\\d+)$$', 1) AS BIGINT) + 1 BETWEEN 1 AND 40 OR CAST(regexp_extract(url, 'p(\\d+)$$', 1) AS BIGINT) + 1 BETWEEN 101 AND 130 OR CAST(regexp_extract(url, 'p(\\d+)$$', 1) AS BIGINT) + 1 >= 590 ORDER BY url",
    "text_langid" ->
      s"SELECT url, pred_lang FROM $G ORDER BY url",
    "url_dedup" -> s"""
WITH raw(url) AS (VALUES
  ${graft.ops.Urls.fixtureValuesSql}),
${canonCtes("raw", "")},
g AS (SELECT canon, CAST(count(*) AS BIGINT) AS group_n, min(url) AS keep_url FROM c GROUP BY canon)
SELECT c.url, c.canon, g.keep_url, g.group_n
FROM c JOIN g USING (canon) ORDER BY url""",
    "crawl_schedule" -> s"""
WITH lr(url) AS (SELECT resolved FROM $GL
  UNION ALL SELECT redirect FROM $G WHERE redirect != ''),
${canonCtes("lr", "t")},
su(url) AS (SELECT url FROM $G),
${canonCtes("su", "v")},
tgt AS (SELECT canon, CAST(count(*) AS BIGINT) AS n_refs FROM tc GROUP BY canon),
fr AS (SELECT canon, n_refs FROM tgt WHERE canon NOT IN (SELECT canon FROM vc)),
${hostCtes("fr", "canon", "canon, n_refs", "q")}
SELECT canon, host, n_refs,
  CAST(row_number() OVER (PARTITION BY host ORDER BY n_refs DESC, canon) - 1 AS BIGINT) AS wave
FROM qh ORDER BY host, wave""",
    "crawl_frontier" -> s"""
WITH lr(url) AS (SELECT resolved FROM $GL
  UNION ALL SELECT redirect FROM $G WHERE redirect != ''),
${canonCtes("lr", "t")},
su(url) AS (SELECT url FROM $G),
${canonCtes("su", "v")},
tgt AS (SELECT canon, CAST(count(*) AS BIGINT) AS n_refs FROM tc GROUP BY canon)
SELECT canon, n_refs FROM tgt
WHERE canon NOT IN (SELECT canon FROM vc)
ORDER BY canon""",
    "frontier_admitted" -> graft.ops.Robots.oracleSqlFor(s"""fr0(url) AS (SELECT resolved FROM $GL
  UNION ALL SELECT redirect FROM $G WHERE redirect != ''),
${canonCtes("fr0", "ft")},
rb(url) AS (VALUES
  ${graft.ops.Robots.urlValuesSql}),
${canonCtes("rb", "rt")},
su(url) AS (SELECT url FROM $G),
${canonCtes("su", "vs")},
frx AS (
  SELECT canon FROM ftc WHERE canon NOT IN (SELECT canon FROM vsc)
  UNION
  SELECT canon FROM rtc
),
raw AS (SELECT canon AS url FROM frx)"""),
    "host_quality" -> s"""
SELECT split_part(url, '/', 3) AS host,
  CAST(count(*) AS BIGINT) AS n_pages,
  CAST((1000 * sum(CASE WHEN outcome = 'ok' THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS ok_milli,
  CAST(sum(tokens_ws) AS BIGINT) AS tokens,
  CAST(sum(tokens_ws) // count(*) AS BIGINT) AS mean_tokens,
  CAST((1000 * sum(tokens_bpe)) // greatest(sum(tokens_ws), 1) AS BIGINT) AS fertility_milli
FROM $G GROUP BY 1 ORDER BY host""",
    "crawl_depth" -> s"""
WITH el0 AS (
  SELECT DISTINCT url AS src, resolved AS dst FROM $GL WHERE url != resolved
),
pages AS (SELECT DISTINCT url FROM $G),
el AS (SELECT src, dst FROM el0 JOIN pages ON el0.dst = pages.url),
bseed AS (
  SELECT url AS u FROM pages
  WHERE NOT EXISTS (SELECT 1 FROM el WHERE el.dst = pages.url)
),
${graft.ops.Graph.bfsOracleCtes(8, seedsFrom = Some("bseed"))}
SELECT u AS url, depth FROM bfs_out ORDER BY url""",
    "text_langid_profile" -> {
      val k = graft.ops.LangId.topK
      s"""
WITH train(lang, t) AS (VALUES
  ${graft.ops.LangId.trainValuesSql}),
test(sample_id, true_lang, t) AS (VALUES
  ${graft.ops.LangId.testValuesSql}),
pg AS (
  SELECT lang, unnest(list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))) AS gram
  FROM train WHERE length(t) >= 3
),
pc AS (SELECT lang, gram, count(*) AS n FROM pg GROUP BY lang, gram),
prof AS (
  SELECT lang, gram, prank FROM (
    SELECT lang, gram, row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram ASC) AS prank FROM pc
  ) WHERE prank <= $k
),
dg AS (
  SELECT sample_id, unnest(list_transform(range(1, length(t) - 1), i -> substr(t, i, 3))) AS gram
  FROM test WHERE length(t) >= 3
),
dc AS (SELECT sample_id, gram, count(*) AS n FROM dg GROUP BY sample_id, gram),
dr AS (
  SELECT sample_id, gram, drank FROM (
    SELECT sample_id, gram, row_number() OVER (PARTITION BY sample_id ORDER BY n DESC, gram ASC) AS drank FROM dc
  ) WHERE drank <= $k
),
langs AS (SELECT DISTINCT lang FROM train),
d AS (
  SELECT dr.sample_id, l.lang,
    CAST(sum(CASE WHEN p.prank IS NULL THEN $k ELSE abs(dr.drank - p.prank) END) AS BIGINT) AS dist
  FROM dr CROSS JOIN langs l
  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = dr.gram
  GROUP BY dr.sample_id, l.lang
),
pred AS (
  SELECT sample_id, min({'dist': dist, 'lang': lang}) AS m FROM d GROUP BY sample_id
)
-- LEFT join + coalesce mirrors classify's no-evidence fallback: a test
-- row shorter than one trigram has no pred row and classifies as 'und'
SELECT t.sample_id, t.true_lang,
  coalesce(pred.m.lang, 'und') AS pred_lang,
  coalesce(pred.m.dist, 0) AS dist
FROM test t LEFT JOIN pred USING (sample_id) ORDER BY sample_id"""
    },
    "text_quality" ->
      s"SELECT url, quality FROM $G ORDER BY url",
    "text_tokens" ->
      s"SELECT url, tokens_ws, tokens_bpe, fingerprint FROM $G ORDER BY url",
    "dedup_exact" ->
      s"SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id FROM ${D(sf)} GROUP BY 1 ORDER BY h",
    "dedup_minhash_lsh" -> s"""
WITH $lshCtes
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
  len(list_filter(list_transform(range(1, 9), i -> a.sig[i] = b.sig[i]), v -> v)) / 8.0 AS est_jaccard
FROM ok a JOIN ok b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b""",
    "dedup_minhash_incremental" -> s"""
WITH $lshCtes
-- even half = kept corpus, odd half = incoming batch; the union of the
-- two sides IS the whole corpus, so lshCtes' bucket cap (counted over
-- all docs) equals the operator's across-both-sides cap exactly
SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of,
  len(list_filter(list_transform(range(1, 9), i -> a.sig[i] = b.sig[i]), v -> v)) / 8.0 AS est_jaccard
FROM ok a JOIN ok b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
ORDER BY doc_id, dup_of""",
    "dedup_clusters" -> s"""
WITH RECURSIVE $lshCtes,
$ccCtes
SELECT doc_id, keep AS cluster_keep_id FROM cl ORDER BY doc_id""",
    "dedup_embed_cosine" -> s"""
WITH $embedLshCtes
SELECT doc_a, doc_b, round(rawcos, 6) AS cos FROM scored WHERE rawcos >= 0.35 ORDER BY doc_a, doc_b""",
    "dedup_embed_apply" -> s"""
WITH RECURSIVE $embedLshCtes,
p AS (SELECT doc_a, doc_b FROM scored WHERE rawcos >= 0.35),
$ccWalkCtes
SELECT v.vec_id, coalesce(cl.keep, v.vec_id) AS keep_id,
  coalesce(cl.keep, v.vec_id) = v.vec_id AS kept
FROM (SELECT vec_id FROM ${E(sf)}) v LEFT JOIN cl ON cl.doc_id = v.vec_id
ORDER BY v.vec_id""",
    "dedup_semantic" -> s"""
WITH RECURSIVE ${kmeansCtes(3, 16)},
${kmeansAssignCtes(3)},
p AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= 0.35
),
$ccWalkCtes
SELECT v.vec_id, fasg.cell, coalesce(cl.keep, v.vec_id) AS keep_id,
  coalesce(cl.keep, v.vec_id) = v.vec_id AS kept
FROM (SELECT vec_id FROM ${E(sf)}) v
LEFT JOIN fasg ON fasg.vec_id = v.vec_id
LEFT JOIN cl ON cl.doc_id = v.vec_id
ORDER BY v.vec_id""",
    "dedup_simhash" -> s"""
WITH hs AS (
  SELECT doc_id, list_transform(list_filter(string_split(text, ' '), x -> x != ''), t -> substring(md5(t), 1, 16)) AS hs
  FROM ${D(sf)}
), sig AS (
  SELECT doc_id, list_transform(range(0, 64), b ->
    CASE WHEN coalesce(list_sum(list_transform(hs, h -> 2 * (((strpos('0123456789abcdef', h[16 - (b // 4)]) - 1) >> (b % 4)) & 1) - 1)), 0) > 0 THEN 1 ELSE 0 END) AS bits
  FROM hs
), banded AS (
  SELECT doc_id, bits, k AS band_idx,
    CAST(list_sum(list_transform(range(0, 16), j -> bits[k*16 + j + 1] * (1 << j))) AS INT) AS band_val
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks
), sized AS (
  SELECT *, count(*) OVER (PARTITION BY band_idx, band_val) AS bucket_n FROM banded
), ok AS (SELECT * FROM sized WHERE bucket_n <= 10000),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(len(list_filter(list_transform(range(1, 65), i -> a.bits[i] != b.bits[i]), v -> v)) AS BIGINT) AS hamming
  FROM ok a JOIN ok b ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 16 ORDER BY doc_a, doc_b""",
    "dedup_ngram_jaccard" -> s"""
WITH ${gramInterCtes(D(sf))}
SELECT doc_a, doc_b, round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.1
ORDER BY doc_a, doc_b""",
    "dedup_containment" -> s"""
WITH ${gramInterCtes(D(sf))},
cm AS (
  SELECT doc_a, doc_b,
    CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
    CAST(inter AS BIGINT) AS inter,
    CAST((1000 * inter) // sa.sz AS BIGINT) AS contain_a_milli,
    CAST((1000 * inter) // sb.sz AS BIGINT) AS contain_b_milli
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, sz_a, sz_b, inter, contain_a_milli, contain_b_milli
FROM cm WHERE greatest(contain_a_milli, contain_b_milli) >= 800
ORDER BY doc_a, doc_b""",
    "docstats_tokens" ->
      s"SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens, $tokensBpeSql AS tokens_bpe, CAST(length(text) AS BIGINT) AS n_chars FROM ${D(sf)} ORDER BY doc_id",
    "docstats_wordlen" ->
      s"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces, CAST(floor(1000.0 * length(replace(text, ' ', '')) / greatest(len(list_filter(string_split(text, ' '), x -> x != '')), 1)) AS BIGINT) AS avg_wordlen_milli FROM ${D(sf)} ORDER BY doc_id",
    "docstats_fingerprint" ->
      s"SELECT doc_id, md5(text) AS fp FROM ${D(sf)} ORDER BY doc_id",
    "text_repetition" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), b AS (
  SELECT doc_id, ws,
    CASE WHEN len(ws) >= 2 THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) ELSE [] END AS bg
  FROM w
)
SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct_words,
  CAST(len(bg) AS BIGINT) AS n_bigrams, CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
  (1000 * (len(ws) - len(list_distinct(ws)))) // greatest(len(ws), 1) AS dup_word_milli
FROM b ORDER BY doc_id""",
    "dedup_passages" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), f AS (
  SELECT doc_id, u.pos AS pos, u.h AS h FROM (
    SELECT doc_id, unnest(list_transform(range(0, len(ws) // 4), i ->
      {'pos': i, 'h': md5(array_to_string(ws[i*4+1 : i*4+4], ' '))})) AS u
    FROM w)
), g AS (
  SELECT h, count(*) AS cnt, min({'d': doc_id, 'p': pos}) AS first FROM f GROUP BY h
)
SELECT f.doc_id, count(*) AS n_passages,
  CAST(sum(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  CAST(sum(CASE WHEN g.cnt > 1 AND NOT (f.doc_id = (g.first).d AND f.pos = (g.first).p) THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM f JOIN g USING (h)
GROUP BY 1 ORDER BY f.doc_id""",
    "dedup_passages_clean" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), f AS (
  SELECT doc_id, u.pos AS pos, u.p AS p FROM (
    SELECT doc_id, unnest(list_transform(range(0, len(ws) // 4), i ->
      {'pos': i, 'p': array_to_string(ws[i*4+1 : i*4+4], ' ')})) AS u
    FROM w)
), g AS (
  SELECT p, count(*) AS cnt, min({'d': doc_id, 'p': pos}) AS first FROM f GROUP BY p
), kept AS (
  SELECT f.doc_id, f.pos, f.p FROM f JOIN g USING (p)
  WHERE g.cnt = 1 OR (f.doc_id = (g.first).d AND f.pos = (g.first).p)
  UNION ALL
  SELECT doc_id, len(ws) // 4 AS pos,
    array_to_string(ws[(len(ws) // 4) * 4 + 1 : (len(ws) // 4) * 4 + 4], ' ') AS p
  FROM w
  WHERE length(array_to_string(ws[(len(ws) // 4) * 4 + 1 : (len(ws) // 4) * 4 + 4], ' ')) > 0
)
SELECT doc_id, count(*) AS n_kept, string_agg(p, ' ' ORDER BY pos) AS clean_text
FROM kept GROUP BY 1 ORDER BY doc_id""",
    "dedup_passages_indoc" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM ${D(sf)}
), u AS (
  -- ceil window count: the sub-window tail IS a unit (it can never
  -- equal a full window — fewer words — so first-occurrence keeps it).
  -- DuckDB lambda index i and list_position are BOTH 1-based (Spark:
  -- 0-based filter index, 1-based array_position).
  SELECT doc_id,
    list_filter(
      list_transform(range(0, (len(ws) + 3) // 4),
        i -> array_to_string(ws[i*4+1 : i*4+4], ' ')),
      (x, i) -> list_position(
        list_transform(range(0, (len(ws) + 3) // 4),
          j -> array_to_string(ws[j*4+1 : j*4+4], ' ')), x) = i) AS kept
  FROM w
)
SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
  coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM u ORDER BY doc_id""",
    "vocab_coverage" -> s"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM ${D(sf)}
),
tc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
hist AS (SELECT c, CAST(count(*) AS BIGINT) AS m FROM tc GROUP BY c),
cum AS (SELECT c, m,
  CAST(coalesce(sum(m) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ranks_before,
  CAST(coalesce(sum(c * m) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS occ_before
  FROM hist),
tot AS (SELECT CAST(coalesce(sum(c * m), 0) AS BIGINT) AS total,
               CAST(coalesce(sum(m), 0) AS BIGINT) AS vocab_size FROM hist),
ks(k) AS (VALUES (CAST(100 AS BIGINT)), (CAST(1000 AS BIGINT)), (CAST(10000 AS BIGINT)))
SELECT k, vocab_size, total,
  CAST(coalesce(occ_before + (k - ranks_before) * c, total) AS BIGINT) AS covered,
  CAST((1000 * coalesce(occ_before + (k - ranks_before) * c, total)) // greatest(total, 1) AS BIGINT) AS coverage_milli
FROM ks CROSS JOIN tot
LEFT JOIN cum ON ranks_before < k AND k <= ranks_before + m
ORDER BY k""",
    "vocab_topk" -> s"""
WITH t AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token FROM ${D(sf)})
SELECT token, count(*) AS n FROM t GROUP BY 1 ORDER BY n DESC, token LIMIT 100""",
    "sketch_countmin" -> s"""
WITH t AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token FROM ${D(sf)}
), dp AS (
  SELECT token, d,
    ('0x' || substring(md5('cms:' || d || ':' || token), 1, 8))::BIGINT % 2048 AS pos
  FROM t CROSS JOIN (SELECT unnest(range(0, 4)) AS d) ds
), cms AS (
  SELECT d, pos, CAST(count(*) AS BIGINT) AS c FROM dp GROUP BY d, pos
), pp AS (
  SELECT DISTINCT token, d, pos FROM dp
), est AS (
  SELECT pp.token, CAST(min(coalesce(cms.c, 0)) AS BIGINT) AS est
  FROM pp LEFT JOIN cms USING (d, pos) GROUP BY pp.token
), ex AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact FROM t GROUP BY token
)
SELECT est.token, est.est, ex.exact
FROM est JOIN ex USING (token)
ORDER BY est DESC, token ASC LIMIT 20""",
    "index_postings" -> s"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM ${D(sf)}
), grain AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), stats AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
    CAST(sum(tf) AS BIGINT) AS tf_total
  FROM grain GROUP BY 1 HAVING count(*) >= 2
), ranked AS (
  SELECT token, doc_id, tf,
    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM grain
), p AS (
  SELECT token, string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
  FROM ranked WHERE rn <= 10 GROUP BY token
)
SELECT s.token, s.df, s.tf_total, s.df > 10 AS truncated, p.postings
FROM stats s JOIN p USING (token) ORDER BY token""",
    "search_tfidf" -> s"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM ${D(sf)}
), grain AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2
), dft AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM grain GROUP BY 1
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ${D(sf)})
SELECT g.doc_id,
  CAST(sum(g.tf * ((nn.n * 1000) // d.df)) AS BIGINT) AS score_milli,
  CAST(count(*) AS BIGINT) AS n_matched
FROM grain g JOIN dft d USING (token) CROSS JOIN nn
GROUP BY g.doc_id
ORDER BY score_milli DESC, doc_id ASC LIMIT 20""",
    "search_bm25" -> s"""
WITH t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM ${D(sf)}
), grain AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM t
  WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2
), dft AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM grain GROUP BY 1
), dl AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS dl
  FROM ${D(sf)}
), tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS toks, CAST(count(*) AS BIGINT) AS n FROM dl
), s AS (
  SELECT g.doc_id,
    -- idf_milli = (1000·(2N−2df+1)) // (2df+1); denom in millis with the
    -- 300/900/2200 = k1, b, k1+1 constants; HUGEINT product = Spark's
    -- DECIMAL(38,0), both truncate toward zero
    CAST(CAST(g.tf AS HUGEINT) * 2200
           * ((1000 * (2 * nn.n - 2 * d.df + 1)) // (2 * d.df + 1))
         // (g.tf * 1000 + 300
            + (900 * ((dl.dl * 1000000) // greatest((nn.toks * 1000) // nn.n, 1))) // 1000)
      AS BIGINT) AS term_milli
  FROM grain g JOIN dft d USING (token) JOIN dl USING (doc_id) CROSS JOIN tot nn
)
SELECT doc_id, CAST(sum(term_milli) AS BIGINT) AS score_milli,
  CAST(count(*) AS BIGINT) AS n_matched
FROM s GROUP BY doc_id
ORDER BY score_milli DESC, doc_id ASC LIMIT 20""",
    "assign_ids" -> s"""
WITH t AS (
  SELECT doc_id,
    ('0x' || substring(md5('ids:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64
      AS bucket
  FROM ${D(sf)}
)
SELECT doc_id,
  CAST(row_number() OVER (ORDER BY bucket, CAST(doc_id AS VARCHAR)) - 1
    AS BIGINT) AS new_id
FROM t ORDER BY doc_id""",
    "sim_allpairs_tokens" -> s"""
WITH toks AS (
  SELECT doc_id AS id,
    unnest(list_distinct(list_filter(string_split(text, ' '), x -> x != '')))
      AS token
  FROM ${D(sf)}
), capped AS (
  SELECT id, token, CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
  FROM toks QUALIFY df <= 100
), sizes AS (
  SELECT id, CAST(count(*) AS BIGINT) AS sz FROM capped GROUP BY 1
), dots AS (
  SELECT a.id AS doc_a, b.id AS doc_b, CAST(count(*) AS BIGINT) AS dot
  FROM (SELECT * FROM capped WHERE df >= 2) a
  JOIN (SELECT * FROM capped WHERE df >= 2) b
    ON a.token = b.token AND a.id < b.id
  GROUP BY 1, 2
), scored AS (
  SELECT d.doc_a, d.doc_b, d.dot,
    (d.dot::HUGEINT * d.dot * 1000000) // (sa.sz::HUGEINT * sb.sz) AS cos2_ppm
  FROM dots d
  JOIN sizes sa ON sa.id = d.doc_a
  JOIN sizes sb ON sb.id = d.doc_b
)
SELECT doc_a, doc_b, dot, CAST(cos2_ppm AS BIGINT) AS cos2_ppm
FROM scored WHERE cos2_ppm >= 640000 ORDER BY doc_a, doc_b""",
    "dedup_winnow" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), g AS (
  SELECT doc_id, CASE WHEN len(ws) >= 4
    THEN list_transform(range(1, len(ws) - 2), i -> md5(array_to_string(ws[i:i+3], ' ')))
    ELSE [] END AS grams
  FROM w
), f AS (
  SELECT doc_id, unnest(CASE
    WHEN len(grams) = 0 THEN []
    WHEN len(grams) <= 4 THEN [list_min(grams)]
    ELSE list_distinct(list_transform(range(1, len(grams) - 2),
      i -> list_min(grams[i:i+3])))
  END) AS fp FROM g
), c AS (
  SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS bn FROM f
  QUALIFY bn <= 100
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared_fp
FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY doc_a, doc_b""",
    "lm_bigram" -> s"""
WITH ${lmCtes(D(sf))}
SELECT d.doc_id,
  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(p.sum_cnt, 0) AS BIGINT) AS sum_cnt,
  CAST((1000 * coalesce(p.n_rare, 0)) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT) AS rare_milli,
  CAST((1000 * coalesce(p.sum_cnt, 0)) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT) AS mean_freq_milli
FROM ${D(sf)} d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""",
    "lm_score_heldout" -> s"""
WITH ${gramCtes(D(sf))}, model AS (
  SELECT gram, CAST(sum(tf) AS BIGINT) AS cnt FROM grain
  WHERE doc_id % 2 = 0 GROUP BY gram
), per AS (
  SELECT grain.doc_id,
    CAST(sum(tf) AS BIGINT) AS n_bigrams,
    CAST(sum(tf * coalesce(cnt, 0)) AS BIGINT) AS sum_cnt,
    CAST(sum(CASE WHEN cnt IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov
  FROM grain LEFT JOIN model USING (gram)
  WHERE grain.doc_id % 2 = 1 GROUP BY grain.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST((1000 * coalesce(p.n_oov, 0)) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT) AS oov_milli,
  CAST((1000 * coalesce(p.sum_cnt, 0)) // greatest(coalesce(p.n_bigrams, 0), 1) AS BIGINT) AS mean_freq_milli
FROM ${D(sf)} d LEFT JOIN per p USING (doc_id)
WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""",
    "sketch_hll" -> s"""
WITH h AS (
  SELECT lang, ('0x' || substring(md5(text), 1, 15))::BIGINT AS h FROM ${D(sf)}
), rk AS (
  SELECT lang, h // 4503599627370496 AS bucket, h % 4503599627370496 AS r FROM h
), rnk AS (
  SELECT lang, bucket, CASE WHEN r = 0 THEN 53 ELSE 53 - length(bin(r)) END AS rank FROM rk
), regs AS (
  SELECT lang, bucket, max(rank) AS mj FROM rnk GROUP BY 1, 2
), spine AS (
  SELECT lang, unnest(range(0, 256)) AS bucket FROM (SELECT DISTINCT lang FROM ${D(sf)})
), dense AS (
  SELECT spine.lang, spine.bucket, coalesce(regs.mj, 0) AS mj
  FROM spine LEFT JOIN regs ON spine.lang = regs.lang AND spine.bucket = regs.bucket
), est AS (
  SELECT lang,
    CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT) AS sum_inv,
    md5(string_agg(mj::VARCHAR, ',' ORDER BY bucket)) AS regs_md5
  FROM dense GROUP BY 1
), ex AS (
  SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct FROM ${D(sf)} GROUP BY 1
)
SELECT est.lang AS grp, n_zero, sum_inv,
  CAST((718273::HUGEINT * 65536 * 9007199254740992) // sum_inv // 1000000 AS BIGINT) AS raw_est,
  regs_md5, exact_distinct
FROM est JOIN ex USING (lang) ORDER BY grp""",
    "quality_classifier" -> s"""
WITH wts AS (
  SELECT i AS feat,
    ('0x' || substring(md5('w:' || i), 1, 8))::BIGINT % 1001 - 500 AS w
  FROM (SELECT unnest(range(0, 1024)) AS i)
), t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token
  FROM ${D(sf)}
), tg AS (
  SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2
), fg AS (
  SELECT doc_id,
    ('0x' || substring(md5('feat:' || token), 1, 8))::BIGINT % 1024 AS feat,
    CAST(sum(tf) AS BIGINT) AS tf
  FROM tg GROUP BY 1, 2
), per AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
    CAST(sum(tf * w) AS BIGINT) AS score_milli
  FROM fg JOIN wts USING (feat) GROUP BY 1
)
SELECT d.doc_id,
  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(p.score_milli, 0) AS BIGINT) AS score_milli,
  coalesce(p.score_milli, 0) > 0 AS label
FROM ${D(sf)} d LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""",
    "quality_tiers" -> s"""
WITH ${tierCtes(D(sf))}
SELECT doc_id, score, tier FROM tiered ORDER BY doc_id""",
    "quality_tiers_by_lang" -> s"""
WITH ${tierCtes(D(sf), "d.lang")}
SELECT doc_id, grp AS lang, score, tier FROM tiered ORDER BY doc_id""",
    "tier_sample" -> s"""
WITH ${tierCtes(D(sf))},
rated AS (
  SELECT doc_id, tier,
    CAST(CASE tier WHEN 'head' THEN 1000 WHEN 'middle' THEN 500
         ELSE 100 END AS BIGINT) AS rate_milli
  FROM tiered
)
SELECT doc_id, tier, rate_milli,
  ('0x' || substring(md5('tier:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
    < (rate_milli * 4294967296) // 1000 AS kept
FROM rated ORDER BY doc_id""",
    "text_ttr" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
),
dw AS (
  SELECT doc_id, CASE WHEN len(ws) >= 25
    THEN list_transform(range(0, len(ws) // 25), i -> len(list_distinct(ws[i*25+1:i*25+25])))
    ELSE [] END AS ds
  FROM w
)
SELECT doc_id,
  CAST(len(ds) AS BIGINT) AS n_windows,
  CAST((1000 * coalesce(list_sum(ds), 0)) // greatest(len(ds) * 25, 1) AS BIGINT) AS ttr_milli
FROM dw ORDER BY doc_id""",
    "ngram_novelty" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
),
g AS (
  SELECT DISTINCT doc_id, unnest(CASE WHEN len(ws) >= 8
    THEN list_transform(range(1, len(ws) - 6), i -> md5(array_to_string(ws[i:i+7], ' ')))
    ELSE [] END) AS gh
  FROM w
),
f AS (SELECT gh, min(doc_id) AS first FROM g GROUP BY gh),
nv AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM g JOIN f USING (gh) GROUP BY g.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(nv.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
  CAST((1000 * coalesce(nv.n_novel, 0)) // greatest(coalesce(nv.n_grams, 0), 1) AS BIGINT) AS novelty_milli
FROM ${D(sf)} d LEFT JOIN nv USING (doc_id) ORDER BY d.doc_id""",
    "importance_shift" -> s"""
WITH ${tierCtes(D(sf))},
wrd AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
  FROM ${D(sf)}
),
ig AS (
  SELECT doc_id, ('0x' || substring(md5(w), 1, 8))::BIGINT % 4096 AS b,
         CAST(count(*) AS BIGINT) AS tf
  FROM wrd GROUP BY 1, 2
),
sc AS (SELECT b, CAST(sum(tf) AS BIGINT) AS sc FROM ig GROUP BY b),
st AS (SELECT CAST(coalesce(sum(tf), 0) AS BIGINT) AS st FROM ig),
hd AS (SELECT doc_id FROM tiered WHERE tier = 'head'),
tcn AS (SELECT b, CAST(sum(tf) AS BIGINT) AS tc
        FROM ig JOIN hd USING (doc_id) GROUP BY b),
tt AS (SELECT CAST(coalesce(sum(tc), 0) AS BIGINT) AS tt FROM tcn),
bt AS (
  SELECT sc.b,
    CAST((1000000 * coalesce(tcn.tc, 0)) // greatest(tt.tt, 1) AS BIGINT) AS t_ppm,
    CAST((1000000 * sc.sc) // greatest(st.st, 1) AS BIGINT) AS s_ppm
  FROM sc LEFT JOIN tcn USING (b) CROSS JOIN st CROSS JOIN tt
),
iper AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
         CAST(sum(tf * (t_ppm - s_ppm)) AS BIGINT) AS ssum
  FROM ig JOIN bt USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(iper.n_words, 0) AS BIGINT) AS n_words,
  CAST(coalesce(iper.ssum // greatest(iper.n_words, 1), 0) AS BIGINT) AS shift_ppm
FROM ${D(sf)} d LEFT JOIN iper USING (doc_id) ORDER BY d.doc_id""",
    "gopher_filter" -> s"""
WITH w AS (
  SELECT doc_id, text AS t,
         list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM ${D(sf)}
),
s AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST((1000 * coalesce(list_sum(list_transform(ws, x -> length(x))), 0)) // greatest(len(ws), 1) AS BIGINT) AS word_len_milli,
    CAST((1000 * len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))) // greatest(len(ws), 1) AS BIGINT) AS alpha_milli,
    CAST((1000 * ((length(t) - length(replace(t, '#', ''))) + (length(t) - length(replace(t, '...', ''))) // 3)) // greatest(len(ws), 1) AS BIGINT) AS symbol_milli,
    CAST(len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
  FROM w
)
SELECT doc_id, n_words, word_len_milli, alpha_milli, symbol_milli, n_stop,
  CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
       WHEN word_len_milli < 3000 OR word_len_milli > 10000 THEN 'word_length'
       WHEN alpha_milli < 800 THEN 'alpha_ratio'
       WHEN symbol_milli > 100 THEN 'symbol_ratio'
       WHEN n_stop < 1 THEN 'stopwords'
       ELSE '' END AS reject_reason,
  (CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
       WHEN word_len_milli < 3000 OR word_len_milli > 10000 THEN 'word_length'
       WHEN alpha_milli < 800 THEN 'alpha_ratio'
       WHEN symbol_milli > 100 THEN 'symbol_ratio'
       WHEN n_stop < 1 THEN 'stopwords'
       ELSE '' END) = '' AS kept
FROM s ORDER BY doc_id""",
    "mix_plan" -> s"""
WITH ${tierCtes(D(sf))},
tk AS (
  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS toks
  FROM ${D(sf)}
),
mp AS (
  SELECT tier, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS tokens
  FROM tiered JOIN tk USING (doc_id) GROUP BY tier
),
tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM mp),
pl AS (
  SELECT tier, n_docs, tokens,
    CAST(CASE tier WHEN 'head' THEN 600 WHEN 'middle' THEN 300
         ELSE 100 END AS BIGINT) AS share_milli,
    CAST((total * 1) // 2 AS BIGINT) AS budget
  FROM mp, tot
)
SELECT tier, n_docs, tokens, share_milli,
  CAST(least(1000, (budget * share_milli) // greatest(tokens, 1)) AS BIGINT) AS keep_milli,
  CAST((tokens * least(1000, (budget * share_milli) // greatest(tokens, 1))) // 1000 AS BIGINT) AS planned_tokens
FROM pl ORDER BY tier""",
    "dedup_normalized" -> s"""
WITH u AS (
  SELECT doc_id, text FROM ${D(sf)}
  UNION ALL
  SELECT doc_id + 1000000000000, upper(text) FROM ${D(sf)} WHERE doc_id % 7 = 0
),
k AS (SELECT doc_id, coalesce(md5(${graft.ops.Dedup.normalizeCcnetSql("text")}), '') AS nkey FROM u),
g AS (SELECT nkey, CAST(count(*) AS BIGINT) AS group_n, min(doc_id) AS keep_id
      FROM k GROUP BY nkey)
SELECT k.doc_id, k.nkey, g.keep_id, g.group_n
FROM k JOIN g USING (nkey) ORDER BY doc_id""",
    "dedup_incremental" -> s"""
WITH ex AS (SELECT md5(text) AS h FROM ${D(sf)} WHERE doc_id % 2 = 0 GROUP BY 1),
inc AS (
  SELECT doc_id, md5(text) AS h FROM ${D(sf)} WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000000000, md5(text) FROM ${D(sf)} WHERE doc_id % 5 = 0
),
fl AS (
  SELECT i.doc_id, i.h, e.h IS NOT NULL AS in_ex
  FROM inc i LEFT JOIN ex e USING (h)
),
fi AS (SELECT h, min(doc_id) AS first_id FROM fl WHERE NOT in_ex GROUP BY h),
rs AS (
  SELECT fl.doc_id,
    CASE WHEN fl.in_ex THEN 'dup_existing'
         WHEN fl.doc_id = fi.first_id THEN 'admitted'
         ELSE 'dup_batch' END AS reason
  FROM fl LEFT JOIN fi USING (h)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, reason = 'admitted' AS admitted,
  reason FROM rs ORDER BY doc_id""",
    "signal_outliers" -> s"""
WITH sc AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
  FROM ${D(sf)}
),
hist AS (SELECT n_tokens, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY n_tokens),
cum AS (
  SELECT n_tokens, CAST(sum(c) OVER (ORDER BY n_tokens
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
qs AS (
  SELECT min(CASE WHEN cum >= 1 + (n - 1) // 4 THEN n_tokens END) AS q1,
         min(CASE WHEN cum >= 1 + (3 * (n - 1)) // 4 THEN n_tokens END) AS q3
  FROM cum, nn
),
fences AS (
  SELECT q1 - (3 * (q3 - q1)) // 2 AS lo, q3 + (3 * (q3 - q1)) // 2 AS hi
  FROM qs
)
SELECT doc_id, n_tokens, lo, hi,
  (n_tokens < lo OR n_tokens > hi) AS outlier
FROM sc, fences ORDER BY doc_id""",
    "sitemap_parse" -> graft.ops.Sitemaps.oracleSql,
    "feed_parse" -> s"""
WITH fp AS (${graft.ops.Feeds.oracleSql}),
${hostCtes("fp", "link", "feed_url, ord", "l")},
${hostCtes("fp", "feed_url", "feed_url, ord", "f")}
SELECT fp.feed_url, fp.kind, fp.ord, fp.link, fp.title, fp.day,
  fp.entry_id,
  (lh.host = fh.host AND lh.host != '') AS same_host
FROM fp
JOIN lh ON lh.feed_url = fp.feed_url AND lh.ord = fp.ord
JOIN fh ON fh.feed_url = fp.feed_url AND fh.ord = fp.ord
ORDER BY fp.feed_url, fp.ord""",
    "graph_pagerank" -> s"""
WITH w AS (
  SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), p AS (
  SELECT unnest(CASE WHEN len(ws) >= 2
    THEN list_transform(range(1, len(ws)), i -> {'s': ws[i], 't': ws[i+1]})
    ELSE [] END) AS pr
  FROM w
), pairs AS (
  SELECT pr.s AS s, pr.t AS t FROM p
  WHERE length(pr.s) >= 3 AND length(pr.t) >= 3 AND pr.s != pr.t
), und AS (
  SELECT s, t FROM pairs UNION ALL SELECT t AS s, s AS t FROM pairs
), e AS (
  SELECT s, t, CAST(count(*) AS BIGINT) AS w FROM und GROUP BY s, t
),
${graft.ops.Graph.pageRankOracleCtes(5)}
SELECT token, rk AS rank_micro FROM r5 ORDER BY rank_micro DESC, token LIMIT 20""",
    "host_rank" -> s"""
WITH hg AS (
  SELECT lower(split_part(url, '/', 3)) AS s,
         lower(split_part(resolved, '/', 3)) AS t
  FROM $GL
), e AS (
  SELECT s, t, CAST(count(*) AS BIGINT) AS w FROM hg WHERE s != t GROUP BY s, t
),
${graft.ops.Graph.pageRankOracleCtes(5)}
SELECT token AS host, rk AS rank_micro FROM r5
ORDER BY rank_micro DESC, host""",
    "text_topic" -> s"""
WITH kw(token, topic) AS (VALUES
  ${graft.ops.Topics.taxonomyValuesSql}),
t AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token FROM ${D(sf)}
), grain AS (
  SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token
), sc AS (
  SELECT doc_id, topic, CAST(sum(tf) AS BIGINT) AS score
  FROM grain JOIN kw USING (token) GROUP BY doc_id, topic
), best AS (
  SELECT doc_id, topic, score FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, topic) AS rn FROM sc
  ) WHERE rn = 1
)
SELECT d.doc_id, coalesce(b.topic, 'none') AS topic,
  CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM ${D(sf)} d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""",
    "url_blocklist" -> s"""
WITH raw(url) AS (VALUES
  ${graft.ops.Urls.fixtureValuesSql}),
rules(rule) AS (VALUES
  ${graft.ops.Urls.blocklistValuesSql}),
s1 AS (SELECT url, split_part(split_part(url, '#', 1), '?', 1) AS base FROM raw),
s2 AS (SELECT url, CASE WHEN instr(base, '://') > 0 THEN substr(base, instr(base, '://') + 3) ELSE '' END AS rest FROM s1),
s3 AS (SELECT url, list_extract(string_split(split_part(rest, '/', 1), '@'), -1) AS hostport FROM s2),
h AS (SELECT url,
  CASE WHEN hostport LIKE '[%' THEN lower(substr(hostport, 1, instr(hostport, ']')))
       ELSE lower(split_part(hostport, ':', 1)) END AS host FROM s3),
sfx AS (
  SELECT url, unnest(list_transform(range(1, len(hp) + 1), i -> array_to_string(hp[i:len(hp)], '.'))) AS suf
  FROM (SELECT url, string_split(host, '.') AS hp FROM h)
), m AS (
  SELECT url, rule FROM (
    SELECT url, rule, row_number() OVER (PARTITION BY url ORDER BY length(rule) DESC, rule) AS rn
    FROM sfx JOIN rules ON suf = rule
  ) WHERE rn = 1
)
SELECT h.url, h.host, m.rule IS NOT NULL AS blocked, coalesce(m.rule, '') AS rule
FROM h LEFT JOIN m USING (url) ORDER BY h.url""",
    "url_domains" -> s"""
WITH raw(url) AS (VALUES
  ${graft.ops.Urls.domainFixtureValuesSql}),
$domainCtes
SELECT url, host, public_suffix, registrable FROM dj ORDER BY url""",
    "domain_stats" -> s"""
WITH raw(url) AS (SELECT url FROM $G
  UNION ALL SELECT * FROM (VALUES ${graft.ops.Urls.domainFixtureValuesSql})),
$domainCtes
SELECT registrable, CAST(count(*) AS BIGINT) AS n_pages,
  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
FROM dj GROUP BY registrable ORDER BY registrable""",
    "robots_filter" -> graft.ops.Robots.oracleSql,
    "robots_sitemaps" -> graft.ops.Robots.sitemapOracleSql,
    "robots_crawl_delay" -> graft.ops.Robots.crawlDelayOracleSql,
    "discovery_chain" -> s"""
WITH rsm AS (${graft.ops.Robots.sitemapOracleSql}),
smo AS (${graft.ops.Sitemaps.oracleSql})
SELECT r.host, s.sm_url, s.ord, s.loc, s.lastmod_day
FROM rsm r JOIN smo s ON r.sitemap_url = s.sm_url
WHERE s.kind = 'urlset' AND s.in_scope
ORDER BY r.host, s.sm_url, s.ord""",
    "bpe_train" -> graft.ops.Bpe.trainOracleSql(D(sf), "text", merges = 6),
    "bpe_encode" -> graft.ops.Bpe.encodeOracleSql(D(sf), "doc_id", "text",
      merges = 6),
    "source_overlap" -> s"""
WITH w AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), g AS (
  SELECT DISTINCT source, gh FROM (
    SELECT source, unnest(CASE WHEN len(ws) >= 8
      THEN list_transform(range(1, len(ws) - 6), i -> md5(array_to_string(ws[i:i+7], ' ')))
      ELSE [] END) AS gh FROM w)
), ps AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source
), sh AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared
  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source GROUP BY 1, 2
)
SELECT sh.src_a, sh.src_b, pa.n_grams AS n_a, pb.n_grams AS n_b, sh.shared,
  CAST((1000 * sh.shared) // (pa.n_grams + pb.n_grams - sh.shared) AS BIGINT) AS jaccard_milli
FROM sh JOIN ps pa ON sh.src_a = pa.source JOIN ps pb ON sh.src_b = pb.source
ORDER BY src_a, src_b""",
    "vocab_growth" -> s"""
WITH t AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS token FROM ${D(sf)}
), nd AS (SELECT max(doc_id) + 1 AS n_docs FROM ${D(sf)}),
occ AS (
  SELECT least(9, (doc_id * 10) // n_docs) AS bucket, CAST(count(*) AS BIGINT) AS occurrences
  FROM t, nd GROUP BY 1
), fo AS (
  SELECT token, min(doc_id) AS first_doc FROM t GROUP BY token
), nw AS (
  SELECT least(9, (first_doc * 10) // n_docs) AS bucket, CAST(count(*) AS BIGINT) AS new_tokens
  FROM fo, nd GROUP BY 1
)
SELECT o.bucket, o.occurrences, CAST(coalesce(n.new_tokens, 0) AS BIGINT) AS new_tokens,
  CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY o.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM occ o LEFT JOIN nw n USING (bucket) ORDER BY o.bucket""",
    "dedup_minhash_apply" -> s"""
WITH RECURSIVE $lshCtes,
$ccCtes
SELECT d.doc_id, coalesce(cl.keep, d.doc_id) AS keep_id,
  coalesce(cl.keep, d.doc_id) = d.doc_id AS kept
FROM ${D(sf)} d LEFT JOIN cl USING (doc_id) ORDER BY d.doc_id""",
    "dedup_keep_best" -> s"""
WITH RECURSIVE $lshCtes,
$ccCtes,
lab AS (
  SELECT d.doc_id,
    CAST(len(list_filter(string_split(d.text, ' '), x -> x != '')) AS BIGINT) AS n_words,
    coalesce(cl.keep, d.doc_id) AS cluster_id
  FROM ${D(sf)} d LEFT JOIN cl USING (doc_id)
),
bst AS (
  SELECT cluster_id, doc_id AS keep_id FROM (
    SELECT cluster_id, doc_id, row_number() OVER (
      PARTITION BY cluster_id ORDER BY n_words DESC, doc_id ASC) AS rn
    FROM lab) WHERE rn = 1
)
SELECT lab.doc_id, lab.cluster_id, lab.n_words, bst.keep_id,
  bst.keep_id = lab.doc_id AS kept
FROM lab JOIN bst USING (cluster_id) ORDER BY lab.doc_id""",
    "pipeline_recipe" -> s"""
WITH w AS (
  SELECT doc_id, text,
    list_filter(string_split(text, ' '), x -> x != '') AS ws
  FROM ${D(sf)}
), sig AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
    (1000 * (len(ws) - len(list_distinct(ws)))) // greatest(len(ws), 1)
      AS dup_word_milli,
    (1000 * len(list_filter(ws, w -> list_contains(['and','for','in','is','it','of','that','the','to','with'], lower(w))))) // greatest(len(ws), 1)
      AS stopword_milli
  FROM w
), q AS (
  SELECT w.doc_id, w.text, w.ws FROM w JOIN sig USING (doc_id)
  WHERE NOT (sig.n_words < 10 OR sig.dup_word_milli > 300
    OR sig.stopword_milli < 5 OR sig.stopword_milli > 600)
), k AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
), t AS (
  SELECT q.doc_id, CAST(len(q.ws) AS BIGINT) AS n_tokens
  FROM q JOIN k USING (doc_id)
), c AS (
  SELECT doc_id, n_tokens,
    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard_id
FROM c ORDER BY doc_id""",
    "sketch_kmv" -> s"""
WITH m AS (
  SELECT lang, list_sort(list_distinct(list(md5(text))))[1:32] AS minima,
    CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct
  FROM ${D(sf)} GROUP BY lang
)
SELECT lang, CAST(len(minima) AS BIGINT) AS n_minima,
  minima[len(minima)] AS kth_hash,
  md5(array_to_string(minima, ',')) AS minima_md5, exact_distinct
FROM m ORDER BY lang""",
    "dedup_substrings_clean" -> s"""
WITH p AS (
  SELECT doc_id, unnest(range(1, length(text) - 38)) AS pos, text
  FROM ${D(sf)} WHERE length(text) >= 40
), g AS (
  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h FROM p
), dup AS (
  SELECT h FROM g GROUP BY h HAVING count(*) > 1
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
      THEN 1 ELSE 0 END AS newrun
  FROM dp
), rn AS (
  SELECT doc_id, pos,
    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM isl
), rr AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
    CAST(max(pos) + 39 AS BIGINT) AS run_end,
    CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS run_len
  FROM rn GROUP BY doc_id, run_id
), gp AS (
  SELECT doc_id,
    coalesce(lag(run_end) OVER (PARTITION BY doc_id ORDER BY run_start), 0) + 1 AS gs,
    run_start - 1 AS ge
  FROM rr
), tl AS (
  SELECT doc_id, max(run_end) + 1 AS gs, CAST(NULL AS BIGINT) AS ge FROM rr GROUP BY doc_id
), pc AS (
  SELECT u.doc_id, u.gs,
    CASE WHEN u.ge IS NULL THEN substr(d.text, CAST(u.gs AS INT))
         ELSE substr(d.text, CAST(u.gs AS INT), CAST(u.ge - u.gs + 1 AS INT)) END AS piece
  FROM (SELECT * FROM gp UNION ALL SELECT * FROM tl) u
  JOIN ${D(sf)} d USING (doc_id)
), cl AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS clean FROM pc GROUP BY doc_id
), rm AS (
  SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS removed_chars FROM rr GROUP BY doc_id
)
SELECT d.doc_id, coalesce(rm.removed_chars, 0) AS removed_chars,
  md5(coalesce(cl.clean, d.text)) AS clean_md5
FROM ${D(sf)} d LEFT JOIN cl USING (doc_id) LEFT JOIN rm USING (doc_id)
ORDER BY d.doc_id""",
    "corpus_decontaminate_bloom" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), g AS (
  SELECT doc_id, CASE WHEN len(ws) >= 8
    THEN list_transform(range(1, len(ws) - 6), i -> md5(array_to_string(ws[i:i+7], ' ')))
    ELSE [] END AS gs
  FROM w
), bg AS (
  SELECT DISTINCT unnest(gs) AS gh FROM g WHERE doc_id % 13 = 7
), ks AS (SELECT unnest(range(0, 4)) AS i),
-- the filter as a position SET: the engine packs positions into 64-bit
-- words and tests bits; membership semantics are identical
bp AS (
  SELECT DISTINCT ('0x' || substring(md5('bloom:' || i || ':' || gh), 1, 8))::BIGINT % 1048576 AS pos
  FROM bg CROSS JOIN ks
), dg AS (
  SELECT DISTINCT doc_id, gh FROM (SELECT doc_id, unnest(gs) AS gh FROM g)
), dp AS (
  SELECT doc_id, gh,
    ('0x' || substring(md5('bloom:' || i || ':' || gh), 1, 8))::BIGINT % 1048576 AS pos
  FROM dg CROSS JOIN ks
), gh_hit AS (
  SELECT doc_id, gh, bool_and(pos IN (SELECT pos FROM bp)) AS hit
  FROM dp GROUP BY doc_id, gh
), hits AS (
  SELECT doc_id, count(*) AS bloom_hits FROM gh_hit WHERE hit GROUP BY doc_id
)
SELECT g.doc_id, CAST(coalesce(h.bloom_hits, 0) AS BIGINT) AS bloom_hits,
  coalesce(h.bloom_hits, 0) > 0 AS contaminated_bloom
FROM g LEFT JOIN hits h USING (doc_id) ORDER BY g.doc_id""",
    "corpus_decontaminate_substring" -> s"""
WITH g AS (
  SELECT doc_id, CASE WHEN length(text) >= 40
    THEN list_distinct(list_transform(range(1, length(text) - 38),
      i -> md5(substr(text, CAST(i AS BIGINT), 40))))
    ELSE [] END AS gs
  FROM ${D(sf)} WHERE text IS NOT NULL
), bg AS (
  SELECT DISTINCT unnest(gs) AS gh FROM g WHERE doc_id % 13 = 7
), dg AS (
  SELECT doc_id, unnest(gs) AS gh FROM g
), hits AS (
  SELECT dg.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM dg JOIN bg ON bg.gh = dg.gh
  GROUP BY dg.doc_id
)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
  coalesce(h.n_hits, 0) > 0 AS contaminated
FROM ${D(sf)} d LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id""",
    "corpus_decontaminate" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), g AS (
  SELECT doc_id, CASE WHEN len(ws) >= 8
    THEN list_transform(range(1, len(ws) - 6), i -> md5(array_to_string(ws[i:i+7], ' ')))
    ELSE [] END AS gs
  FROM w
), bg AS (
  SELECT DISTINCT unnest(gs) AS gh FROM g WHERE doc_id % 13 = 7
), dg AS (
  SELECT doc_id, unnest(gs) AS gh FROM g
), hits AS (
  SELECT dg.doc_id, count(DISTINCT dg.gh) AS n_hits FROM dg JOIN bg USING (gh) GROUP BY dg.doc_id
)
SELECT g.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
  coalesce(h.n_hits, 0) > 0 AS contaminated
FROM g LEFT JOIN hits h USING (doc_id) ORDER BY g.doc_id""",
    "corpus_chunks" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), c AS (
  SELECT doc_id, ws, s FROM w, unnest(range(0, len(ws), 48)) AS t(s)
  WHERE len(ws) >= 1 AND (s = 0 OR s + 16 < len(ws))
)
SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
  CAST(s + 1 AS BIGINT) AS start_word,
  CAST(len(ws[s + 1 : s + 64]) AS BIGINT) AS n_words,
  md5(array_to_string(ws[s + 1 : s + 64], ' ')) AS chunk_md5
FROM c ORDER BY doc_id, chunk_idx""",
    "trigram_quality" -> s"""
WITH t AS (
  SELECT doc_id, unnest(list_transform(range(1, length(text) - 1), i -> substr(text, i, 3))) AS tri
  FROM ${D(sf)} WHERE length(text) >= 3
), model AS (
  SELECT tri FROM t GROUP BY tri HAVING count(*) >= 5
), per AS (
  SELECT doc_id, count(*) AS n_tri FROM t GROUP BY doc_id
), com AS (
  SELECT t.doc_id, count(*) AS n_common FROM t JOIN model USING (tri) GROUP BY t.doc_id
)
SELECT d.doc_id, CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri,
  CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
  CAST((1000 * coalesce(c.n_common, 0)) // greatest(coalesce(p.n_tri, 0), 1) AS BIGINT) AS common_milli
FROM ${D(sf)} d LEFT JOIN per p USING (doc_id) LEFT JOIN com c USING (doc_id)
ORDER BY d.doc_id""",
    "sample_weighted" -> s"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), q AS (
  SELECT doc_id,
    least(900, 300 + (1000 * len(list_filter(ws, w -> list_contains(['and','for','in','is','it','of','that','the','to','with'], lower(w))))) // greatest(len(ws), 1)) AS weight_milli
  FROM w
)
SELECT doc_id, CAST(weight_milli AS BIGINT) AS weight_milli,
  ('0x' || substring(md5('weight:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < (weight_milli * 4294967296) // 1000 AS kept
FROM q ORDER BY doc_id""",
    "sample_quota" -> s"""
WITH r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang ORDER BY md5('quota:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM ${D(sf)}
)
SELECT doc_id, lang,
  rn <= (n * CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 300 ELSE 200 END + 999) // 1000 AS kept
FROM r ORDER BY doc_id""",
    "text_redact" -> s"""
WITH a AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text
    ELSE text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex.com ip 10.1.'
      || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)
      || ' ref ' || CAST(doc_id * 7919 AS VARCHAR) END AS t
  FROM ${D(sf)}
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(t, '\\d{4,}')) AS BIGINT) AS n_num,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
    '\\d{4,}', '<NUM>', 'g')) AS red_md5
FROM a ORDER BY doc_id""",
    "dedup_substrings" -> s"""
WITH p AS (
  SELECT doc_id, unnest(range(1, length(text) - 38)) AS pos, text
  FROM ${D(sf)} WHERE length(text) >= 40
), g AS (
  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h FROM p
), dup AS (
  SELECT h FROM g GROUP BY h HAVING count(*) > 1
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
      THEN 1 ELSE 0 END AS newrun
  FROM dp
), runs AS (
  SELECT doc_id, pos,
    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
  CAST(max(pos) + 39 AS BIGINT) AS run_end,
  CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS run_len
FROM runs GROUP BY doc_id, run_id ORDER BY doc_id, run_start""",
    "dedup_substrings_keep_first_clean" -> s"""
WITH p AS (
  SELECT doc_id, unnest(range(1, length(text) - 38)) AS pos, text
  FROM ${D(sf)} WHERE length(text) >= 40
), g AS (
  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h FROM p
), fam AS (
  SELECT h, min({'doc_id': doc_id, 'pos': pos}) AS own
  FROM g GROUP BY h HAVING count(*) > 1
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN fam USING (h)
  WHERE NOT (g.doc_id = fam.own.doc_id AND g.pos = fam.own.pos)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
      THEN 1 ELSE 0 END AS newrun
  FROM dp
), rn AS (
  SELECT doc_id, pos,
    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM isl
), rr AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
    CAST(max(pos) + 39 AS BIGINT) AS run_end,
    CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS run_len
  FROM rn GROUP BY doc_id, run_id
), gp AS (
  SELECT doc_id,
    coalesce(lag(run_end) OVER (PARTITION BY doc_id ORDER BY run_start), 0) + 1 AS gs,
    run_start - 1 AS ge
  FROM rr
), tl AS (
  SELECT doc_id, max(run_end) + 1 AS gs, CAST(NULL AS BIGINT) AS ge FROM rr GROUP BY doc_id
), pc AS (
  SELECT u.doc_id, u.gs,
    CASE WHEN u.ge IS NULL THEN substr(d.text, CAST(u.gs AS INT))
         ELSE substr(d.text, CAST(u.gs AS INT), CAST(u.ge - u.gs + 1 AS INT)) END AS piece
  FROM (SELECT * FROM gp UNION ALL SELECT * FROM tl) u
  JOIN ${D(sf)} d USING (doc_id)
), cl AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY gs) AS clean FROM pc GROUP BY doc_id
), rm AS (
  SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS removed_chars FROM rr GROUP BY doc_id
)
SELECT d.doc_id, coalesce(rm.removed_chars, 0) AS removed_chars,
  md5(coalesce(cl.clean, d.text)) AS clean_md5
FROM ${D(sf)} d LEFT JOIN cl USING (doc_id) LEFT JOIN rm USING (doc_id)
ORDER BY d.doc_id""",
    "dedup_substrings_keep_first" -> s"""
WITH p AS (
  SELECT doc_id, unnest(range(1, length(text) - 38)) AS pos, text
  FROM ${D(sf)} WHERE length(text) >= 40
), g AS (
  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h FROM p
), fam AS (
  SELECT h, min({'doc_id': doc_id, 'pos': pos}) AS own
  FROM g GROUP BY h HAVING count(*) > 1
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN fam USING (h)
  WHERE NOT (g.doc_id = fam.own.doc_id AND g.pos = fam.own.pos)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
      THEN 1 ELSE 0 END AS newrun
  FROM dp
), runs AS (
  SELECT doc_id, pos,
    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
  CAST(max(pos) + 39 AS BIGINT) AS run_end,
  CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS run_len
FROM runs GROUP BY doc_id, run_id ORDER BY doc_id, run_start""",
    "dedup_substrings_rolling" -> s"""
WITH p AS (
  SELECT doc_id, unnest(range(1, length(text) - 38)) AS pos, text
  FROM ${D(sf)} WHERE length(text) >= 40
), g AS (
  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h FROM p
), dup AS (
  SELECT h FROM g GROUP BY h HAVING count(*) > 1
), dp AS (
  SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)
), isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40
      THEN 1 ELSE 0 END AS newrun
  FROM dp
), runs AS (
  SELECT doc_id, pos,
    sum(newrun) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start,
  CAST(max(pos) + 39 AS BIGINT) AS run_end,
  CAST(max(pos) + 39 - min(pos) + 1 AS BIGINT) AS run_len
FROM runs GROUP BY doc_id, run_id ORDER BY doc_id, run_start""",
    "docstats_fused" -> s"""
WITH a AS (
  SELECT doc_id, coalesce(text, '') ||
    CASE WHEN doc_id % 3 = 0 THEN ' End one. Two more? Yes!'
         WHEN doc_id % 3 = 1 THEN ' tail without terminator'
         ELSE ' Mixed!? runs... end' END AS text
  FROM ${D(sf)}
),
w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws, text FROM a),
sig AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
    (1000 * (len(ws) - len(list_distinct(ws)))) // greatest(len(ws), 1) AS dup_word_milli,
    (1000 * len(list_filter(ws, w -> list_contains([${CorpusStats.stopwordList.map(w => s"'$w'").mkString(", ")}], lower(w))))) // greatest(len(ws), 1) AS stopword_milli,
    (1000 * length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))) // greatest(length(text), 1) AS nonalnum_milli,
    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
    CAST(CASE WHEN ws IS NULL THEN NULL ELSE coalesce(list_sum(list_transform(ws, w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))), 0) END AS BIGINT) AS n_syllables
  FROM w
),
r AS (
  SELECT *,
    CAST((1000 * n_words) // greatest(n_sentences, 1) AS BIGINT) AS wps_milli,
    CAST((1000 * n_syllables) // greatest(n_words, 1) AS BIGINT) AS spw_milli
  FROM sig
)
SELECT doc_id, n_words,
  CAST(dup_word_milli AS BIGINT) AS dup_word_milli,
  CAST(stopword_milli AS BIGINT) AS stopword_milli,
  CAST(nonalnum_milli AS BIGINT) AS nonalnum_milli,
  CAST(206835 - (1015 * wps_milli) // 1000 - (84600 * spw_milli) // 1000 AS BIGINT) AS flesch_milli,
  CAST((stopword_milli + (1000 - nonalnum_milli) + (1000 - least(dup_word_milli, 1000))) // 3 AS BIGINT) AS composite_milli
FROM r ORDER BY doc_id""",
    "text_script_mix" -> s"""
WITH $scriptCtes
SELECT url, n_chars, n_latin, n_cjk, n_cyrillic, n_arabic,
  latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli
FROM sm ORDER BY url""",
    "lang_script_consistency" -> s"""
WITH $scriptCtes,
-- expected/dominant projected ONCE in a CTE so the comparison reuses
-- the aliases instead of re-spelling each CASE
e AS (
  SELECT url, pred_lang,
    CASE pred_lang
      WHEN 'eng' THEN 'latin' WHEN 'rus' THEN 'cyrillic'
      WHEN 'zho' THEN 'cjk' WHEN 'jpn' THEN 'cjk' WHEN 'kor' THEN 'cjk'
      WHEN 'ara' THEN 'arabic' WHEN 'fas' THEN 'arabic'
      WHEN 'urd' THEN 'arabic' WHEN 'heb' THEN 'other' ELSE NULL
    END AS expected_script,
    -- all-five-zero ⇔ n_chars = 0: empty page → NULL, never 'latin'
    CASE WHEN greatest(latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli) = 0 THEN NULL
         WHEN latin_milli = greatest(latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli) THEN 'latin'
         WHEN cjk_milli = greatest(latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli) THEN 'cjk'
         WHEN cyrillic_milli = greatest(latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli) THEN 'cyrillic'
         WHEN arabic_milli = greatest(latin_milli, cjk_milli, cyrillic_milli, arabic_milli, other_milli) THEN 'arabic'
         ELSE 'other' END AS dominant_script
  FROM sm
)
SELECT url, pred_lang, expected_script, dominant_script,
  CASE WHEN expected_script IS NULL THEN NULL
       ELSE expected_script = dominant_script END AS consistent
FROM e ORDER BY url""",
    "host_boilerplate" -> s"""
WITH d AS (
  SELECT 'https://h' || (doc_id % 20) || '.example.com/d' || doc_id AS url,
    text FROM ${D(sf)}
),
w AS (
  SELECT url, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM d
),
f AS (
  SELECT url, u.h AS h FROM (
    SELECT url, unnest(list_transform(range(0, len(ws) // 4), i ->
      {'h': md5(array_to_string(ws[i*4+1 : i*4+4], ' '))})) AS u
    FROM w)
),
${hostCtes("f", "url", "url, h", "hb")},
g AS (
  SELECT host, h, count(DISTINCT url) AS docs_with FROM hbh GROUP BY 1, 2
)
SELECT x.url, x.host, count(*) AS n_passages,
  CAST(sum(CASE WHEN g.docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_common,
  CAST((1000 * sum(CASE WHEN g.docs_with >= 2 THEN 1 ELSE 0 END))
    // count(*) AS BIGINT) AS common_milli
FROM hbh x JOIN g ON g.host = x.host AND g.h = x.h
GROUP BY x.url, x.host
ORDER BY x.url""",
    "bitext_candidates" -> s"""
WITH d AS (SELECT doc_id, lang FROM ${D(sf)}),
u AS (
  SELECT CASE WHEN doc_id % 11 = 0
    THEN 'https://site' || ((doc_id // 3) % 7) || '.example.com/static/page' || doc_id
    ELSE 'https://site' || ((doc_id // 3) % 7) || '.example.com/' ||
      (CASE WHEN doc_id % 13 = 0 THEN lang || '-us' ELSE lang END) ||
      '/article' || (doc_id // 3) END AS url
  FROM d
),
${hostPathCtes("u", "url", "url", "b")},
m AS (
  SELECT url, host,
    regexp_extract(path, '^/([a-z]{2}(?:-[a-z]{2})?)(/.*)?$$', 1) AS lang_marker,
    regexp_extract(path, '^/([a-z]{2}(?:-[a-z]{2})?)(/.*)?$$', 2) AS rest,
    path
  FROM bhp
),
sp AS (
  SELECT url, host, lang_marker,
    CASE WHEN lang_marker != ''
         THEN (CASE WHEN rest = '' OR rest IS NULL THEN '/' ELSE rest END)
         ELSE path END AS stripped_path
  FROM m WHERE lang_marker != ''
)
SELECT host, stripped_path,
  CAST(count(DISTINCT lang_marker) AS BIGINT) AS n_langs,
  array_to_string(list_sort(list(DISTINCT lang_marker)), ',') AS langs,
  min(url) AS anchor_url
FROM sp GROUP BY host, stripped_path
HAVING count(DISTINCT lang_marker) >= 2
ORDER BY host, stripped_path""",
    "badwords_filter" -> s"""
WITH b AS (
  SELECT doc_id,
    len(list_filter(
      list_filter(string_split(coalesce(text, ''), ' '), x -> x != ''),
      w -> list_contains(['slow', 'merge', 'zzz-absent'], lower(w)))) > 0
      AS has_badword
  FROM ${D(sf)}
)
SELECT doc_id, has_badword, NOT has_badword AS kept
FROM b ORDER BY doc_id""",
    "extract_title" -> s"SELECT url, title FROM $G ORDER BY url",
    "extract_headings" ->
      s"SELECT url, idx, level, htext FROM $GH ORDER BY url, idx",
    "extract_tables" ->
      s"SELECT url, tbl, row, col, header, ctext FROM $GC ORDER BY url, tbl, row, col",
    "host_components" -> s"""
WITH RECURSIVE hl AS (
  SELECT lower(split_part(url, '/', 3)) AS src,
         lower(split_part(resolved, '/', 3)) AS dst
  FROM $GL
), p AS (
  SELECT DISTINCT src AS doc_a, dst AS doc_b FROM hl
  WHERE src != dst AND dst != ''
), $ccWalkCtes,
sz AS (SELECT keep, CAST(count(*) AS BIGINT) AS n FROM cl GROUP BY keep)
SELECT cl.doc_id AS host, cl.keep AS keep_host, sz.n AS n_members
FROM cl JOIN sz USING (keep) ORDER BY host""",
    "table_records" -> s"""
WITH c AS (SELECT url, tbl, row, col, header, ctext FROM $GC),
h AS (SELECT url, tbl, col, ctext AS key FROM c
      WHERE header AND row = 0 AND ctext != '')
SELECT c.url, c.tbl, c.row, c.col, h.key, c.ctext AS value
FROM c JOIN h USING (url, tbl, col)
WHERE NOT c.header AND c.row > 0
ORDER BY url, tbl, row, col""",
    "corpus_filter" -> s"""
WITH w AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x != '') AS ws FROM ${D(sf)}
), sig AS (
  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
    (1000 * (len(ws) - len(list_distinct(ws)))) // greatest(len(ws), 1) AS dup_word_milli,
    (1000 * len(list_filter(ws, w -> list_contains(['and','for','in','is','it','of','that','the','to','with'], lower(w))))) // greatest(len(ws), 1) AS stopword_milli
  FROM w
), dec AS (
  SELECT sig.*, CASE
    WHEN w.text IS NULL THEN 'null_text'
    WHEN n_words < 10 THEN 'too_few_words'
    WHEN dup_word_milli > 300 THEN 'too_repetitive'
    WHEN stopword_milli < 5 THEN 'too_few_stopwords'
    WHEN stopword_milli > 600 THEN 'too_many_stopwords'
  END AS reject_reason FROM sig JOIN w USING (doc_id)
)
SELECT doc_id, n_words, dup_word_milli, stopword_milli, reject_reason,
  reject_reason IS NULL AS kept
FROM dec ORDER BY doc_id""",
    "shard_pack" -> s"""
WITH t AS (
  SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens
  FROM ${D(sf)}
), c AS (
  SELECT doc_id, n_tokens,
    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
  CAST((cum_tokens - n_tokens) // 2000 AS BIGINT) AS shard_id
FROM c ORDER BY doc_id""",
    "docstats_signals" -> s"""
WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws, text FROM ${D(sf)})
SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
  (1000 * len(list_filter(ws, w -> list_contains(['and','for','in','is','it','of','that','the','to','with'], lower(w))))) // greatest(len(ws), 1) AS stopword_milli,
  (1000 * length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))) // greatest(length(text), 1) AS nonalnum_milli
FROM w ORDER BY doc_id""",
    "text_readability" -> s"""
WITH w AS (SELECT url AS doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws, text FROM $G),
c AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
    -- the coalesce covers ONLY the empty-list case (list_sum([]) is NULL
    -- where Spark's aggregate([], 0L) = 0); a NULL text must stay NULL in
    -- both engines, so it is guarded out of the fold
    CAST(CASE WHEN ws IS NULL THEN NULL ELSE coalesce(list_sum(list_transform(ws, w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+'))))), 0) END AS BIGINT) AS n_syllables
  FROM w
), r AS (
  SELECT *,
    CAST((1000 * n_words) // greatest(n_sentences, 1) AS BIGINT) AS wps_milli,
    CAST((1000 * n_syllables) // greatest(n_words, 1) AS BIGINT) AS spw_milli
  FROM c
)
SELECT doc_id, n_words, n_sentences, n_syllables, wps_milli, spw_milli,
  CAST(206835 - (1015 * wps_milli) // 1000 - (84600 * spw_milli) // 1000 AS BIGINT) AS flesch_milli
FROM r ORDER BY doc_id""",
    "text_sentences" -> s"""
WITH s AS (SELECT url AS doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS ss FROM $G),
x AS (SELECT doc_id, unnest(range(0, len(ss))) AS sent_idx, unnest(ss) AS s FROM s)
SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, trim(s) AS sentence,
  CAST(len(list_filter(string_split(trim(s), ' '), x -> x != '')) AS BIGINT) AS n_words
FROM x ORDER BY doc_id, sent_idx""",
    "media_meta" ->
      s"SELECT doc_id, CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width, CAST(64 + ascii(substr(text, 1, 1)) % 512 AS BIGINT) AS height, CAST(1 + octet_length(encode(text)) % 7 AS BIGINT) AS n_frames, CASE WHEN ascii(substr(text, 1, 1)) % 2 = 0 THEN 'img' ELSE 'vid' END AS media_kind FROM ${D(sf)} ORDER BY doc_id",
    "media_resize" -> s"""
WITH m AS (
  SELECT doc_id,
    CAST(64 + octet_length(encode(text)) % 512 AS BIGINT) AS width,
    CAST(64 + ascii(substr(text, 1, 1)) % 512 AS BIGINT) AS height
  FROM ${D(sf)}
), f AS (
  SELECT *, least(1000, (224 * 1000) // greatest(width, 1),
    (224 * 1000) // greatest(height, 1)) AS scale_milli FROM m
)
SELECT doc_id, width, height, CAST(scale_milli AS BIGINT) AS scale_milli,
  CAST((width * scale_milli) // 1000 AS BIGINT) AS out_w,
  CAST((height * scale_milli) // 1000 AS BIGINT) AS out_h
FROM f ORDER BY doc_id""",
    "media_frames" -> s"""
WITH m AS (
  SELECT doc_id,
    CAST(1 + octet_length(encode(text)) % 7 AS BIGINT) AS n_frames,
    CASE WHEN ascii(substr(text, 1, 1)) % 2 = 0 THEN 'img' ELSE 'vid' END AS media_kind
  FROM ${D(sf)}
), v AS (
  SELECT doc_id, n_frames,
    greatest((n_frames + 3) // 4, 1) AS stride
  FROM m WHERE media_kind = 'vid' AND n_frames >= 1
)
SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(fi AS VARCHAR)) AS frame_tag
FROM v, unnest(range(0, n_frames, stride)) AS t(fi)
ORDER BY doc_id, frame_idx""",
    "join_broadcast" ->
      s"SELECT c_mktsegment, count(*) AS n_orders, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_centi, CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers FROM read_parquet('$sf/orders.parquet') o JOIN read_parquet('$sf/customer.parquet') c ON o.o_custkey = c.c_custkey GROUP BY 1 ORDER BY c_mktsegment",
    "agg_hmean" ->
      s"SELECT l_returnflag, l_linestatus, CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_centi, CAST(sum(CAST(floor((l_quantity / l_extendedprice) * 1e9) AS BIGINT)) AS BIGINT) AS ratio_nano, count(*) AS n FROM read_parquet('$sf/lineitem.parquet') GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus",
    "join_anti" ->
      s"SELECT doc_id, n_chars FROM ${D(sf)} WHERE doc_id % 17 <> 0 ORDER BY doc_id",
    "sample_stratified" ->
      s"SELECT doc_id, lang FROM ${D(sf)} WHERE ('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT < (CASE WHEN lang = 'en' THEN 500 ELSE 200 END) * 4294967296 // 1000 ORDER BY doc_id",
    "join_semi" ->
      s"SELECT doc_id, n_chars FROM ${D(sf)} WHERE doc_id IN (SELECT min(doc_id) FROM ${D(sf)} GROUP BY text) ORDER BY doc_id",
    "agg_rollup" ->
      s"SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM ${D(sf)} GROUP BY ROLLUP (lang, source) ORDER BY lang NULLS FIRST, source NULLS FIRST",
    "agg_quantiles" -> s"""
WITH r AS (
  SELECT lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM ${D(sf)}
)
SELECT lang,
  CAST(max(CASE WHEN rn = 1 + floor((n-1) * 0.5) THEN n_chars END) AS BIGINT) AS p50,
  CAST(max(CASE WHEN rn = 1 + floor((n-1) * 0.9) THEN n_chars END) AS BIGINT) AS p90,
  CAST(max(n_chars) AS BIGINT) AS p100
FROM r GROUP BY lang ORDER BY lang""",
    "sketch_quantiles" -> s"""
WITH r AS (
  SELECT lang, n_chars,
    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
    count(*) OVER (PARTITION BY lang) AS n
  FROM ${D(sf)}
)
SELECT lang,
  CAST(max(CASE WHEN rn = 1 + floor((n-1) * 0.5) THEN n_chars END) AS BIGINT) AS p50,
  CAST(max(CASE WHEN rn = 1 + floor((n-1) * 0.9) THEN n_chars END) AS BIGINT) AS p90,
  CAST(max(n_chars) AS BIGINT) AS p100
FROM r GROUP BY lang ORDER BY lang""",
    "events_json" ->
      s"SELECT event_id, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM read_parquet('$sf/events.parquet') ORDER BY event_id",
    "events_hourly" ->
      s"SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type, count(*) AS n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli FROM read_parquet('$sf/events.parquet') GROUP BY 1, 2 ORDER BY hour, event_type",
    "events_ordered" ->
      s"SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM read_parquet('$sf/events.parquet') WHERE user_id < 50 ORDER BY user_id, rn",
    "events_sessionize" -> s"""
WITH g AS (
  SELECT user_id, event_id, ts,
    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM read_parquet('$sf/events.parquet')
), f AS (
  SELECT user_id, event_id, ts,
    CASE WHEN prev_ts IS NULL THEN 1
         WHEN epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM g
)
SELECT user_id, event_id,
  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM f ORDER BY user_id, event_id""",
    "events_range_join" -> s"""
WITH base AS (SELECT * FROM read_parquet('$sf/events.parquet') WHERE event_type <> 'error'),
g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 86400000000 THEN 1 ELSE 0 END AS ns
  FROM base
), s AS (
  -- (ts, event_id) tie-break, same total order as the ns window above
  -- and the sessionize oracle: ordering by ts alone could assign a
  -- duplicate-timestamp twin to the PREVIOUS session nondeterministically
  SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM g
), iv AS (
  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, min(ts) AS s, max(ts) AS e FROM s GROUP BY 1, 2
), p AS (SELECT event_id, user_id, ts FROM read_parquet('$sf/events.parquet') WHERE event_type = 'error')
SELECT p.event_id, p.user_id, iv.session_idx
FROM p LEFT JOIN iv ON p.user_id = iv.user_id AND p.ts BETWEEN iv.s AND iv.e
ORDER BY p.event_id""",
    "events_asof" -> s"""
WITH l AS (SELECT event_id AS left_id, user_id, ts FROM read_parquet('$sf/events.parquet') WHERE event_type = 'purchase'),
-- ties on (user_id, ts) collapse to max(event_id) BEFORE the ASOF join:
-- Spark's asofJoin deterministically picks the highest event_id among
-- equal-ts views, while a native ASOF against the raw table would pick
-- an arbitrary one of the tied rows (latent divergence if the
-- generator ever emits duplicate-ts twins); the ASOF evaluation itself
-- stays DuckDB-native and independent
r AS (SELECT max(event_id) AS right_id, user_id, ts FROM read_parquet('$sf/events.parquet') WHERE event_type = 'view' GROUP BY user_id, ts)
SELECT l.left_id, l.user_id, r.right_id,
  CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS lag_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY left_id""",
    "sim_topk_native" -> s"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${E(sf)} WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS nbr_id, v AS cv, sqrt(list_dot_product(v, v)) AS cn FROM e),
s AS (SELECT query_id, nbr_id, list_dot_product(qv, cv) / (qn * cn) AS cos FROM q CROSS JOIN c WHERE query_id <> nbr_id),
r AS (SELECT query_id, nbr_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, rank, nbr_id, round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "sim_topk_brute" -> s"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${E(sf)} WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS nbr_id, v AS cv, sqrt(list_dot_product(v, v)) AS cn FROM e),
s AS (SELECT query_id, nbr_id, list_dot_product(qv, cv) / (qn * cn) AS cos FROM q CROSS JOIN c WHERE query_id <> nbr_id),
r AS (SELECT query_id, nbr_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, rank, nbr_id, round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "sim_topk_ivf" -> s"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM ${E(sf)} WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
cents AS (
  SELECT vec_id AS cent_id, v AS cv, sqrt(list_dot_product(v, v)) AS cn
  FROM e ORDER BY vec_id LIMIT 16
), ca AS (
  SELECT e.vec_id, e.v, sqrt(list_dot_product(e.v, e.v)) AS vn, c.cent_id,
    list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * c.cn) AS ccos
  FROM e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id AS nbr_id, v AS cv, vn AS cn, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM ca
  ) WHERE rn = 1
), probed AS (
  SELECT vec_id AS query_id, v AS qv, vn AS qn, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM ca WHERE vec_id < 10
  ) WHERE rn <= 4
), s AS (
  SELECT p.query_id, a.nbr_id, list_dot_product(p.qv, a.cv) / (p.qn * a.cn) AS cos
  FROM probed p JOIN assigned a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.nbr_id
), r AS (
  SELECT query_id, nbr_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s
)
SELECT query_id, rank, nbr_id, round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    "sim_topk_ivf_kmeans" -> s"""
WITH ${kmeansCtes(3, 16)},
${kmeansAssignCtes(3)},
assigned AS (
  SELECT vec_id AS nbr_id, v AS cv, n AS cn, cell FROM fasg
),
probed AS (
  SELECT f.vec_id AS query_id, e.v AS qv, sqrt(list_dot_product(e.v, e.v)) AS qn, f.cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM fd WHERE vec_id < 10
  ) f JOIN e ON e.vec_id = f.vec_id WHERE f.rn <= 4 AND list_dot_product(e.v, e.v) > 0
),
s AS (
  SELECT p.query_id, a.nbr_id, list_dot_product(p.qv, a.cv) / (p.qn * a.cn) AS cos
  FROM probed p JOIN assigned a ON p.cell = a.cell
  WHERE p.query_id <> a.nbr_id
),
r AS (
  SELECT query_id, nbr_id, cos, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s
)
SELECT query_id, rank, nbr_id, round(cos, 6) AS cos FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  )
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** TextRank keyword extraction — PageRank (Page et al. 1999, damping
  * 0.85) over the word-adjacency graph of the corpus (Mihalcea &
  * Tarau 2004). The training-data use is corpus-level keyword/topic
  * surfacing; the engineering use is pinning the ITERATIVE-JOIN shape —
  * the one relational pattern (iterate: join rank→edges, re-aggregate)
  * that the rest of the suite's single-pass operators don't exercise.
  * The reference has no graph surface; its closest analog is the
  * dictionary quality model (quality.py) — corpus-derived token
  * importance.
  *
  * Exact-integer arithmetic in micro-units (determinism invariant —
  * no float ranks): r₀ = 1_000_000 for every node;
  *   rₜ₊₁(v) = 150000 + (850 · Σᵤ→ᵥ ((rₜ(u)·w(u,v)) div outw(u))) div 1000
  * with `div` the BIGINT truncating division both engines share. The
  * per-edge division loses ≤1 micro-unit per term — deterministic and
  * replayed identically by the DuckDB oracle (mass conservation is NOT
  * an invariant here, rank ORDER is).
  *
  * Graph construction: tokens ≥ 3 chars; an edge per adjacent pair
  * within a document (both directions — the graph is undirected);
  * self-loops dropped; edge weight = corpus-wide co-occurrence count.
  *
  * 100 TB shape: nodes are the FILTERED VOCABULARY (Heaps-law sublinear
  * in corpus size), edges its adjacency — the iteration shuffles
  * (token, rank) pairs, never documents. Edges feed every iteration
  * plus the out-weight table, so they carry a persist barrier; K is
  * fixed (5), so the lineage is a bounded 5-deep join tree (no
  * localCheckpoint needed at this depth).
  */
object Graph {

  private val DampMicroNum = 850L // 0.85 in milli  → ×rank div 1000
  private val BaseMicro = 150000L // 0.15 × 1_000_000

  /** Top-`k` tokens by `iters`-step integer PageRank over the
    * word-adjacency graph (see class doc). Output: (token, rank_micro),
    * ordered rank desc then token asc — fully deterministic. */
  def textRank(docs: DataFrame, textCol: String, iters: Int = 5,
      k: Int = 20): DataFrame = {
    // spread on the text key (this operator has no id column; text is
    // unique up to duplicate docs — a deterministic, near-uniform key)
    val pairs = Par.spread(
        docs.select(col(textCol).as("tr_text")), "tr_text")
      .select(TextGrams.wordsExpr("tr_text").as("ws"))
      .select(explode(expr(
        "case when size(ws) >= 2 then transform(sequence(1, size(ws) - 1)," +
          " i -> struct(ws[i - 1] as s, ws[i] as t)) else array() end"))
        .as("p"))
      .select(col("p.s").as("s"), col("p.t").as("t"))
      .filter(length(col("s")) >= 3 && length(col("t")) >= 3 &&
        col("s") =!= col("t"))
    // both edge directions from ONE explode pass (the former
    // pairs ∪ pairs.swap union evaluated the bigram explode twice)
    val und = pairs.select(explode(array(
        struct(col("s"), col("t")),
        struct(col("t").as("s"), col("s").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    val edges = und.groupBy("s", "t").agg(count(lit(1)).as("w"))
    pageRank(edges, iters)
      .orderBy(col("rank_micro").desc, col("token").asc)
      .limit(k)
  }

  /** The integer-PageRank recursion over a weighted directed edge table
    * `(s, t, w)` — ONE owner for the rank loop, consumed by
    * [[textRank]] (word adjacency) and the host-graph `host_rank`
    * query (a drifted copy would let word-level and host-level ranking
    * damp differently). NODE-COMPLETE: every endpoint (s ∪ t) is
    * ranked every step — a directed source with no in-edges keeps the
    * base rank instead of being dropped (replayed by the oracle's
    * n0/left-join CTEs; pinned by the OpsSpec DAG unit). Output:
    * (token, rank_micro), unordered — callers own their ordering
    * contract.
    *
    * 100 TB shape: `iters` fixed, each step shuffles only (node, long)
    * rows; `edges` feeds the out-weight agg and every iteration's
    * join, so it carries the persist barrier (ej likewise — it is the
    * per-step join probe side). */
  def pageRank(edges0: DataFrame, iters: Int = 5): DataFrame = {
    // barrier: edges feed the out-weight agg and all `iters` joins
    val edges = edges0.persist(StorageLevel.MEMORY_AND_DISK)
    val outw = edges.groupBy("s").agg(sum("w").as("outw"))
    val ej = edges.join(outw, Seq("s"))
      .select(col("s"), col("t"), col("w"), col("outw"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node-complete: on a DIRECTED graph (hosts) sources without
    // in-edges must keep the base rank every step — an inner-join loop
    // silently drops them and, on a shallow DAG, empties by r5. On
    // textRank's symmetric graph every node has in-edges, so this
    // left-join form is value-identical there (coalesce never fires).
    // Dangling-node mass is NOT redistributed (standard simplification;
    // score ORDER is the invariant, as with hits()).
    val nodes = edges.select(col("s").as("token"))
      .unionAll(edges.select(col("t").as("token"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var rank = nodes.withColumn("rank", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = ej.join(rank, ej("s") === rank("token"))
        .select(col("t"), expr("(rank * w) div outw").as("c"))
        .groupBy("t")
        .agg(sum("c").as("sc"))
      // Column./ is FLOAT division — the integer `div` keeps the
      // micro-unit arithmetic exact and oracle-replayable
      rank = nodes.join(contrib, nodes("token") === contrib("t"), "left")
        .select(nodes("token"),
          expr(s"${BaseMicro}L + ($DampMicroNum * coalesce(sc, 0L)) div 1000")
            .as("rank"))
    }
    rank.select(col("token"), col("rank").as("rank_micro"))
  }

  /** DuckDB mirror of [[pageRank]]: `ow/ej/r0..r$iters` CTEs expecting
    * an upstream `e(s, t, w)` CTE — ONE oracle owner shared by the
    * graph_pagerank and host_rank oracles. `rk` not `rank` (window
    * keyword in DuckDB); sum(BIGINT) is HUGEINT → CAST back each
    * step. */
  def pageRankOracleCtes(iters: Int): String = {
    val steps = (1 to iters).map(i =>
      s"""c$i AS (SELECT ej.t AS token, CAST(sum((r.rk * ej.w) // ej.outw) AS BIGINT) AS sc
  FROM ej JOIN r${i - 1} r ON ej.s = r.token GROUP BY ej.t),
r$i AS (SELECT n0.token, CAST($BaseMicro + ($DampMicroNum * coalesce(c.sc, 0)) // 1000 AS BIGINT) AS rk
  FROM n0 LEFT JOIN c$i c USING (token))""")
      .mkString(",\n")
    s"""ow AS (
  SELECT s, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY s
), ej AS (SELECT e.s, e.t, e.w, ow.outw FROM e JOIN ow USING (s)),
n0 AS (SELECT s AS token FROM e UNION SELECT t FROM e),
r0 AS (SELECT token, CAST(1000000 AS BIGINT) AS rk FROM n0),
$steps"""
  }

  /** HITS hub/authority scores (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") over a weighted directed edge table
    * `(src, dst, w)` — the host-graph ranking a crawl uses to seed and
    * prioritize. Exact-integer variant: h₀ = 1_000_000 for every node;
    * each half-step aggregates `Σ w·score` over in-(resp. out-)edges
    * and renormalizes by the step MAXIMUM via truncating `div`
    * (max-norm, not L2 — exactly replayable; score ORDER is the
    * invariant, as with textRank). Hubs update from the CURRENT
    * authority, the classic ordering. Nodes without in/out edges score
    * 0 on that axis.
    *
    * Bounds: normalized scores ≤ 1e6, so a half-step sum is BIGINT-safe
    * up to ~9e12 total in-weight per node; the ×1e6 renormalization
    * product is widened to DECIMAL(38)/HUGEINT so it can never wrap
    * below that bound (a popular host routinely exceeds 9e6 in-weight,
    * which a 64-bit product would overflow).
    *
    * 100 TB shape: the HOST graph is orders smaller than the page
    * table (edges come pre-aggregated); every iteration shuffles only
    * (host, long) pairs, max-norms ride broadcast one-row aggregates
    * (never a driver collect). Each half-step takes a `localCheckpoint`
    * lineage CUT, as [[bfsDepth]] does: `norm` reads its input twice
    * (the max aggregate and the join) and each input holds the previous
    * half-step, so a lazy plan would grow ~4× per iteration. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("host"))
      .unionAll(e.select(col("dst").as("host"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    def norm(raw: DataFrame, scoreCol: String): DataFrame = {
      // greatest(max, 1): an all-zero half-step (no edges) must yield
      // zeros, not a divide-by-zero abort
      val mx = raw.agg(greatest(max(col("s")), lit(1L)).as("mx"))
      nodes.join(raw, Seq("host"), "left")
        .crossJoin(broadcast(mx))
        .select(col("host"),
          coalesce(expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0))" +
              " div CAST(mx AS DECIMAL(38,0))"), lit(0L)).as(scoreCol))
    }
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = norm(
        e.join(hub, e("src") === hub("host"))
          .groupBy(e("dst").as("host")).agg(sum(expr("w * h")).as("s")), "a")
        .localCheckpoint(true)
      hub = norm(
        e.join(auth, e("dst") === auth("host"))
          .groupBy(e("src").as("host")).agg(sum(expr("w * a")).as("s")), "h")
        .localCheckpoint(true)
    }
    auth.join(hub, Seq("host"))
      .select(col("host"), col("a").as("auth_micro"), col("h").as("hub_micro"))
      .orderBy(col("auth_micro").desc, col("hub_micro").desc, col("host").asc)
  }

  /** Connected components over STRING-keyed edges → one row per node:
    * (key, keep_key, n_members) with keep_key the component's
    * lexicographic minimum — the mirror/site-cluster resolution step
    * over the host graph (the same keeper contract as Dedup.exact,
    * at host grain). Delegates the components to
    * [[Dedup.resolveClusters]] over 60-bit md5-derived ids (both engines
    * share the conv(md5) algebra) — a driver union-find when the id
    * edge table fits its bounded pull, the iterative min-label/pointer-
    * jump walk when it does not — then re-keys: the
    * keeper is min(key) WITHIN the component — label-independent, so
    * the oracle may resolve components any way it likes. A duplicate
    * 60-bit id would silently merge two components, so the mapping
    * carries an assert_true guard (birthday bound ~2^30 keys — beyond
    * that, swap in AssignIds.stableIds for the id step).
    *
    * 100 TB shape: the walk shuffles (id, id) pairs only (below the
    * pull bound the labels are a broadcast local relation); key strings
    * appear in exactly two broadcast-scale joins (id assignment and
    * keeper re-key) plus one groupBy on the component label. */
  def componentsByKey(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    def kid(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    // the caller's edge lineage feeds the key table AND the id-edge
    // table (the signature-table fork rule)
    val e = edges.select(col(aCol).as("ka"), col(bCol).as("kb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = e.select(col("ka").as("key"))
      .union(e.select(col("kb").as("key")))
      .distinct()
      .select(col("key"), kid(col("key")).as("id"))
    // 60-bit collision guard (the AssignIds dup-guard idiom): a merge
    // of distinct keys must fail loudly, never cluster silently. The
    // assert is woven into the CONSUMED key column — an asserted
    // column that the next select drops is pruned by Catalyst and the
    // guard silently vanishes from the physical plan
    val guarded = keys.groupBy("id").agg(count(lit(1)).as("n"),
        min("key").as("key0"))
      .select(col("id"),
        when(assert_true(col("n") === 1L,
          lit("componentsByKey: 60-bit id collision — use stableIds")).isNull,
          col("key0")).as("key"))
    val idEdges = e
      .select(kid(col("ka")).as("a"), kid(col("kb")).as("b"))
      .filter(col("a") =!= col("b"))
    val labels = Dedup.resolveClusters(idEdges, "a", "b")
    // comp feeds the keeper aggregation AND the final join-back
    val comp = labels.join(guarded, labels("doc_id") === guarded("id"))
      .select(col("key"), col("cluster_keep_id").as("lab"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keepers = comp.groupBy("lab")
      .agg(min("key").as("keep_key"), count(lit(1)).as("n_members"))
    comp.join(keepers, Seq("lab"))
      .select(col("key"), col("keep_key"), col("n_members"))
  }

  /** Bounded multi-source BFS over a directed edge table `(src, dst)`:
    * hop distance from the graph's ROOTS (nodes with no inbound edge —
    * a crawl's effective entry points) to every reachable node, the
    * "how deep did we get" audit a breadth-limited recrawl budgets on.
    * Classic frontier iteration: wave k expands ONLY nodes first
    * reached at k−1 (the post-min filter makes each edge fire exactly
    * once per BFS level), `unionAll` + `min` folds the new wave into
    * the distance table. Nodes not reachable from any root (cycle-only
    * components) get NO row — at web scale that absence IS the signal
    * (orphaned link islands).
    *
    * 100 TB shape: every iteration shuffles only (node, long) pairs —
    * never pages; the frontier shrinks geometrically on real web
    * graphs. Each level takes a `localCheckpoint` lineage CUT, not a
    * lazy persist: the distance table feeds level k twice (union +
    * frontier join), so a lazy plan doubles per level — 2^maxDepth
    * subtrees by the end (the same reason the connected-components
    * walk cuts). At the full crawl the node column would be a 64-bit
    * url hash, not the string — callers pick the key.
    */
  def bfsDepth(edges: DataFrame, maxDepth: Int = 8,
      seeds: Option[DataFrame] = None): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // default roots derive from the EDGE table (src never linked-to) —
    // callers with a node universe wider than the edges (e.g. crawled
    // pages with no in-crawl edges at all) pass explicit `seeds(node)`,
    // or those nodes would be invisible here and read as "orphaned"
    val s0 = seeds.map(_.select(col("node")).distinct()).getOrElse(
      e.select(col("src").as("node")).distinct()
        .join(e.select(col("dst").as("node")).distinct(), Seq("node"),
          "left_anti"))
    var dist = s0.withColumn("depth", lit(0L)).localCheckpoint(true)
    for (k <- 1 to maxDepth) {
      val frontier = dist.filter(col("depth") === lit(k - 1L))
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node"), lit(k.toLong).as("depth"))
      dist = dist.unionAll(next)
        .groupBy("node").agg(min("depth").as("depth"))
        .localCheckpoint(true)
    }
    dist
  }

  /** The DuckDB replay of [[bfsDepth]] as an UNROLLED CTE chain (one
    * level per CTE — the bounded-iteration semantics exactly, unlike an
    * unbounded recursive CTE): expects `el(src, dst)` already
    * self-loop-free and distinct; emits `bfs_out(u, depth)`.
    * `seedsFrom` names a caller CTE with column `u` (the explicit-seed
    * twin of [[bfsDepth]]'s `seeds` param); absent, roots derive from
    * `el` like the Spark default. */
  def bfsOracleCtes(maxDepth: Int, seedsFrom: Option[String] = None): String = {
    val sb = new StringBuilder
    sb.append(seedsFrom match {
      case Some(src) =>
        s"""d0 AS (
  SELECT DISTINCT u, CAST(0 AS BIGINT) AS depth FROM $src)"""
      case None => """d0 AS (
  SELECT DISTINCT src AS u, CAST(0 AS BIGINT) AS depth FROM el
  WHERE NOT EXISTS (SELECT 1 FROM el e2 WHERE e2.dst = el.src))"""
    })
    for (k <- 1 to maxDepth) {
      sb.append(s""",
d$k AS (SELECT u, min(depth) AS depth FROM (
  SELECT u, depth FROM d${k - 1}
  UNION ALL
  SELECT e.dst AS u, CAST($k AS BIGINT) AS depth
  FROM el e JOIN d${k - 1} p ON e.src = p.u AND p.depth = ${k - 1})
  GROUP BY u)""")
    }
    sb.append(s""",
bfs_out AS (SELECT u, depth FROM d$maxDepth)""")
    sb.toString
  }

  /** The DuckDB replay of [[hits]] as a CTE chain: `edgesSql` must
    * define `el(src, dst, w)`; emits `hits_out(host, auth_micro,
    * hub_micro)`. Unrolled per-iteration CTEs, max-norm via a
    * cross-joined one-row aggregate — the same truncation points. */
  def hitsOracleCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb.append("""n AS (SELECT DISTINCT host FROM (
  SELECT src AS host FROM el UNION SELECT dst FROM el)),
h0 AS (SELECT host, CAST(1000000 AS BIGINT) AS sc FROM n)""")
    for (k <- 1 to iters) {
      sb.append(s""",
a${k}r AS (SELECT e.dst AS host, CAST(sum(e.w * p.sc) AS BIGINT) AS s
  FROM el e JOIN h${k - 1} p ON e.src = p.host GROUP BY 1),
a${k}m AS (SELECT greatest(max(s), 1) AS mx FROM a${k}r),
a$k AS (SELECT n.host,
  CAST(coalesce((CAST(r.s AS HUGEINT) * 1000000) // m.mx, 0) AS BIGINT) AS sc
  FROM n LEFT JOIN a${k}r r USING (host) CROSS JOIN a${k}m m),
h${k}r AS (SELECT e.src AS host, CAST(sum(e.w * p.sc) AS BIGINT) AS s
  FROM el e JOIN a$k p ON e.dst = p.host GROUP BY 1),
h${k}m AS (SELECT greatest(max(s), 1) AS mx FROM h${k}r),
h$k AS (SELECT n.host,
  CAST(coalesce((CAST(r.s AS HUGEINT) * 1000000) // m.mx, 0) AS BIGINT) AS sc
  FROM n LEFT JOIN h${k}r r USING (host) CROSS JOIN h${k}m m)""")
    }
    sb.append(s""",
hits_out AS (
  SELECT a$iters.host, a$iters.sc AS auth_micro, h$iters.sc AS hub_micro
  FROM a$iters JOIN h$iters USING (host))""")
    sb.toString
  }
}

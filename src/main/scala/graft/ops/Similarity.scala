package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor operators over an embedding column
  * (Array[Float]).
  *
  * The dot product / norm are sequential left-to-right folds over the
  * array in DOUBLE precision (`aggregate(zip_with(...))`) — bit-for-bit
  * reproducible and exactly mirrorable in the DuckDB oracle
  * (list_dot_product over ::DOUBLE[] lists). Everything is Catalyst
  * builtins — codegen'd, no UDF.
  *
  * Scale paths:
  *  - bruteForceTopK: O(N·Q) — correct baseline; broadcast the query side
  *    (queries ≪ corpus always holds for ANN serving).
  *  - ivfTopK: coarse quantizer (C centroids) + probe `nprobe` cells.
  *    Cell assignment is a NARROW per-row fold over a driver-collected
  *    centroid literal (IVF "training" output is a small model by
  *    definition) — zero shuffle between the corpus scan and assignment;
  *    the only data movement is the (cell → query) hash join and the
  *    final per-query top-k, which WindowGroupLimit partially evaluates
  *    before the query_id exchange.
  */
object Similarity {

  /** Sequential double-precision dot product of two float-array columns. */
  def dotC(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normC(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Zero vectors have no cosine direction: under Spark 4's default ANSI
    * mode one all-zero embedding (an empty/padded doc) would otherwise
    * abort the whole job with DIVIDE_BY_ZERO at the cosine — every ANN
    * operator here excludes them from both sides up front (a narrow
    * codegen'd predicate; the exclusion is part of the operator
    * contract, not silent row loss). */
  private def nonZeroVec(v: Column): Column =
    exists(v, x => x =!= lit(0.0f))

  /** The shared deterministic top-k tail of every ANN operator: rank by
    * (cos DESC, nbr_id ASC) per query, keep k, round for the oracle.
    * ONE definition so the ordering/rounding contract cannot silently
    * diverge between the brute/native/IVF variants (they all share
    * oracle SQL shapes). WindowGroupLimit partially evaluates the rank
    * per partition before the query_id exchange. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nbr_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself when ids collide). Deterministic ordering:
    * (cos DESC, neighbor id ASC). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    // register() also installs NativeCosineRule: this operator DECLARES
    // the builtin HOF cosine and the optimizer rewrites it into the
    // fused cosine_hof kernel — the declarative-formulation-fast-plan
    // contract the library's optimizer rule exists for
    bruteForce(corpus, queries, idCol, vecCol, k,
      dotC(col("qv"), col("cv")) / (normC(col("qv")) * normC(col("cv"))))

  /** As bruteForceTopK, but scoring through the native codegen'd
    * `cosine_sim` expression (graft.functions.CosineSim) — one fused loop
    * per pair instead of three HOF folds; results are bit-identical on
    * the shared domain (equal-length, non-null, non-zero vectors — the
    * zero-vector exclusion below makes that the operators' whole input;
    * only RAGGED dimensions would still differ: cosine_sim truncates to
    * the shorter array where the HOF form nulls out). */
  def bruteForceTopKNative(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    bruteForce(corpus, queries, idCol, vecCol, k, expr("cosine_sim(qv, cv)"))

  /** The exact top-k body both brute-force operators share; `cos` scores
    * a (query `qv`, corpus `cv`) pair. */
  private def bruteForce(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, cos: Column): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // spread the corpus side: the O(N·Q) scoring loop is the operator's
    // CPU floor and must not serialize on one scan split (Par.spread is
    // a no-op when the input layout is already wide)
    val c = Par.spread(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
        .filter(nonZeroVec(col("cv"))), "nbr_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(nonZeroVec(col("qv")))
    // broadcast the QUERY side: the corpus is the 10^9-row side at scale,
    // so it stays partitioned and each task scores its slice against the
    // broadcast queries; WindowGroupLimit then takes partial top-k per
    // partition before the (tiny) shuffle on query_id
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("cos", cos)
    topK(scored, k)
  }

  /** IVF-flat ANN: centroids = the `centroids` lowest-id corpus vectors
    * (the trivial deterministic "training"; `ivfTopKKmeans` above is the
    * same dataflow with real Lloyd training). Each corpus vector is assigned to its
    * nearest centroid; a query probes the `nprobe` nearest cells and
    * reranks exactly within them.
    *
    * 100 TB shape: the centroid table is the *model* — small by
    * construction (C ≤ ~2^16 cells even at 10^10 vectors), so it is
    * collected once and folded over inside a single narrow projection per
    * corpus row (`array_sort(transform(cents, ...))[1]`). No window, no
    * exchange: assignment adds zero shuffle on the 10^9-row side. Only
    * the scored candidates (a nprobe/C fraction of the corpus) move
    * through the final per-query top-k. */
  /** Micro-quantization: each float component to floor(x·1e6) as a long.
    * Everything downstream of this is EXACT integer arithmetic, so sums
    * are order-independent (safe under any partitioning) and a SQL oracle
    * can replay the same numbers bit-for-bit. */
  private def microCol(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1e6)).cast("long"))

  /** Squared Euclidean distance between two micro-quantized vectors —
    * exact long arithmetic (dim 64, |micro| ≤ ~1e6 ⇒ Σ(Δ²) ≤ ~3e14,
    * far inside Long and even Double-exact range). */
  private def d2Micro(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Ranked centroid list for a micro-quantized vector: every trained
    * cell as (d2, cent_id) structs sorted by exact integer d² (tie →
    * lower cent_id). ONE owner for the assignment algebra that
    * [[kmeansMicro]], [[ivfTopKKmeans]] and [[semanticDedup]] share —
    * the metric and tie-break are a pinned oracle contract, and a
    * drifting copy in any of the three would silently un-sync their
    * oracles. Rank against a MATERIALIZED micro column: codegen does
    * not hoist common subexpressions out of HOF lambdas, so quantizing
    * inside the per-centroid transform would redo the O(dim)
    * floor/cast C times per row. */
  private def cellRanking(centsLit: Column, vm: Column): Column =
    array_sort(transform(centsLit, c =>
      struct(d2Micro(vm, c.getField("_2")).as("d2"),
        c.getField("_1").as("cent_id"))))

  /** Nearest trained cell (the rank-1 entry of [[cellRanking]]). */
  private def assignCell(centsLit: Column, vm: Column): Column =
    element_at(cellRanking(centsLit, vm), 1).getField("cent_id")

  /** Deterministic Lloyd k-means over micro-quantized vectors [public
    * technique: Lloyd 1982]. Init is hash-seeded (the C rows with the
    * lexicographically smallest md5(vec_id), id tie-break); each
    * iteration assigns by exact integer squared-Euclidean distance (tie →
    * lower cent_id) and recomputes centroids as the truncating integer
    * mean per dimension (Spark `div` ≡ DuckDB `//` ≡ Scala Long `/`).
    * Empty cells keep their previous centroid. Every step is a pure
    * integer function of the input SET — no float summation order, no
    * RNG — so the DuckDB oracle replays the identical iterations.
    *
    * 100 TB shape: per iteration, ONE narrow assignment projection over a
    * collected ≤2^16-row centroid literal (zero shuffle on the corpus)
    * plus ONE two-phase (cell, dim) agg whose partial sums combine
    * map-side; the (C·dim)-row model is what crosses to the driver. */
  def kmeansMicro(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int = 16, iters: Int = 3): Seq[(Long, Seq[Long])] = {
    // spread the raw rows BEFORE the micro-quantizing projection, as
    // sigsOf does: the per-element work then runs after the exchange
    val vm = Par.spread(
        corpus.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("v")), "vec_id")
      .select(col("vec_id"), microCol(col("v")).as("vm"))
      // a null ELEMENT would poison the per-dim sums (driver NPE on an
      // all-null (cell, dim) group, silently deflated mean otherwise):
      // train only on fully-defined vectors
      .filter(!exists(col("vm"), x => x.isNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = vm
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(centroids).collect()
      var cents: Seq[(Long, Seq[Long])] = init.zipWithIndex.map {
        case (r, i) => (i.toLong, r.getSeq[Long](1))
      }.toSeq
      (0 until iters).foreach { _ =>
        val centsLit = typedLit(cents)
        val assigned = vm.withColumn("cell", assignCell(centsLit, col("vm")))
        // the truncating integer mean (Spark `div` ≡ DuckDB `//` ≡ Scala
        // Long `/`, all toward zero — verified) folds INSIDE the agg, and
        // the second groupBy packs each cell's dims into one sorted
        // array: the driver pulls C rows of dim longs, not C·dim rows
        // (at dim 1-4k the flat form is a multi-hundred-MB driver pull)
        val means = assigned
          .select(col("cell"), posexplode(col("vm")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg(expr("sum(x) div count(1)").as("m"))
          .groupBy("cell")
          // collect_list order is nondeterministic; the struct sort on
          // the unique pos restores it exactly
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .as("pm"))
          .collect()
          .map(r => (r.getLong(0),
            r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))))
          .toMap
        cents = cents.map { case (cid, old) =>
          means.get(cid) match {
            case Some(mean) => (cid, mean)
            case None => (cid, old) // empty cell keeps its centroid
          }
        }
      }
      cents
    } finally { vm.unpersist(); () }
  }

  /** IVF with k-means-trained cells: `kmeansMicro` fits the coarse
    * quantizer, corpus/query cell assignment uses the SAME exact integer
    * metric, and the in-cell rerank is the exact double cosine shared
    * with `ivfTopK`/its oracle. The dataflow is identical to `ivfTopK`
    * (narrow assignment, broadcast probes, partial top-k) — only the
    * model fit changed, as promised there. */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int = 32, nprobe: Int = 16,
      iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = kmeansMicro(corpus, idCol, vecCol, centroids, iters)
    val centsLit = typedLit(cents)
    val assigned = corpus
      .select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
      .filter(nonZeroVec(col("cv")))
      .withColumn("vm", microCol(col("cv")))
      .withColumn("cell", assignCell(centsLit, col("vm")))
      .drop("vm")
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(nonZeroVec(col("qv")))
      .withColumn("vm", microCol(col("qv")))
      .withColumn("probe",
        explode(slice(cellRanking(centsLit, col("vm")), 1, nprobe)))
      .withColumn("cell", col("probe").getField("cent_id"))
      .drop("probe", "vm")
    // in-cell rerank through the native fused cosine (bit-identity with
    // the HOF dot/(qn·cn) form is pinned by sim_topk_native's oracle)
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
    topK(scored, k)
  }

  /** Default (centroids, nprobe) for both IVF variants come from the
    * recorded recall sweep (BENCH bench_r04_dev.json `recall_sweep`,
    * sf0.1 / 100k vectors): ivfTopK (64, 16) → recall@10 0.828 uniform
    * / 0.999 clustered (probes 1/4 of cells); ivfTopKKmeans (32, 16) →
    * 0.841 / 1.000 — the cheapest configurations meeting ≥0.8 uniform
    * and ≥0.9 clustered (for kmeans, (64, 32) ties the probed fraction
    * at 1/2 but doubles the per-row assignment cost for no gain under
    * the rule). Uniform embeddings bound recall near the probed
    * fraction for ANY coarse quantizer, so they are the adversarial
    * floor; clustered data is what IVF exists for. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int = 64, nprobe: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Driver-side model fit: deterministic centroid pick (cosine_sim
    // computes norms inside its fused loop, so the model carries only
    // (id, vector)). The centroid pick shares the operator-wide
    // zero-vector exclusion — a zero vector has no cosine direction, so
    // it can anchor no cell, and the oracle's centroid CTE applies the
    // same filter (one exclusion contract on both sides).
    val centRows: Seq[(Long, Seq[Float])] = corpus
      .select(col(idCol).cast("long"), col(vecCol))
      .filter(nonZeroVec(col(vecCol)))
      .orderBy(col(idCol).asc).limit(centroids)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val centsLit = typedLit(centRows) // array<struct<_1:bigint,_2:array<float>>>

    // Per-row cell ranking: cosine against every centroid via the NATIVE
    // codegen'd `cosine_sim` (one fused loop per centroid — the HOF
    // zip_with/aggregate formulation allocates an intermediate array per
    // comparison; bit-identity of the two is pinned by sim_topk_native's
    // shared oracle), sorted by (cos DESC, cent_id ASC) via an ascending
    // struct sort on (-cos, cent_id). Negation is exact in IEEE754, so
    // ties and order match the oracle's ORDER BY ccos DESC, cent_id ASC.
    val cellRankingSql =
      "array_sort(transform(cents, c -> named_struct(" +
        "'negcos', -cosine_sim(VEC, c._2), 'cent_id', c._1)))"
    // no input spread: the (cell → query) join below repartitions right
    // after assignment, and the spread exchange benched at +0.08 s (r06)
    val assigned = corpus
      .select(col(idCol).as("nbr_id"), col(vecCol).as("cv"))
      .filter(nonZeroVec(col("cv")))
      .withColumn("cents", centsLit)
      .withColumn("cell",
        expr(s"element_at(${cellRankingSql.replace("VEC", "cv")}, 1).cent_id"))
      .drop("cents")
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .filter(nonZeroVec(col("qv")))
      .withColumn("cents", centsLit)
      .withColumn("probe",
        explode(expr(s"slice(${cellRankingSql.replace("VEC", "qv")}, 1, $nprobe)")))
      .withColumn("cell", col("probe").getField("cent_id"))
      .drop("probe", "cents")
    // corpus side (assigned) stays partitioned; probed queries broadcast
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
    topK(scored, k)
  }

  /** Sparse all-pairs document similarity over word-token SETS [public
    * technique: all-pairs similarity search with frequency-based
    * candidate pruning, Bayardo/Ma/Srikant WWW 2007; the set-overlap
    * cosine is the Ochiai coefficient]. Similarity is INTEGER-exact:
    * instead of cos = |A∩B| / sqrt(|A||B|) (an irrational no oracle can
    * hash-match), the emitted `cos2_ppm = (dot² × 10⁶) div (|A|·|B|)` is
    * cos² in parts-per-million under truncating integer div — monotone
    * in cos, so thresholding is equivalent, and every intermediate fits
    * comfortably in BIGINT (dot ≤ 10³-grade set sizes).
    *
    * Universe convention (same as [[Dedup.ngramJaccard]]'s capped
    * universe): tokens with df > `dfCap` are excluded from BOTH the
    * candidate join and the set sizes — a stopword shared by half the
    * corpus says nothing about similarity and would otherwise explode
    * the token-keyed join quadratically (the skew cap). df = 1 tokens
    * stay in the sizes but skip the join (they cannot form a pair).
    *
    * 100 TB shape: only (token, id) pairs shuffle — never text; the df
    * cap's window and the self-join share the token key; per-token join
    * fan-out is ≤ dfCap² by construction; the pair aggregation carries
    * compact (a, b, 1) rows collapsed map-side. */
  def allPairsSetCosine(docs: DataFrame, idCol: String, textCol: String,
      minCos2Ppm: Long = 640000L, dfCap: Int = 100): DataFrame = {
    require(dfCap >= 2, s"dfCap must be >= 2, got $dfCap")
    // window shape (r06): the two-phase cap benched 0.42 -> 0.62 s here —
    // the token explode is cheap (no md5), so its extra agg exchange
    // dominates. capped is the FORK (sizes + both join sides)
    val capped = Cap.window(docs.select(col(idCol).as("id"),
        explode(array_distinct(TextGrams.wordsExpr(textCol))).as("token")),
      Seq("token"), dfCap)
    val dots = Cap.pairs(capped.filter(col("bucket_n") >= 2), Seq("token"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("dot"))
    Cap.withSizes(dots, capped)
      .withColumn("cos2_ppm",
        // squared in DECIMAL(38,0): dot > ~3.03e6 would wrap BIGINT
        // (non-ANSI silently, ANSI as a job-killing error) and silently
        // drop the MOST similar pairs; the quotient is ≤ 10⁶ so the
        // final value always fits BIGINT. Oracle mirrors via HUGEINT.
        expr("CAST((CAST(dot AS DECIMAL(38,0)) * dot * 1000000) " +
          "div (CAST(sz_a AS DECIMAL(38,0)) * sz_b) AS BIGINT)"))
      .filter(col("cos2_ppm") >= minCos2Ppm)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cos2_ppm"))
  }

  /** Semantic deduplication [public technique: Abbas et al. 2023
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540]: cluster the embedding space with
    * k-means, compare pairs ONLY within a cluster with the exact cosine,
    * and keep one representative per connected component — the
    * embedding-space analog of minhash dedup that catches paraphrases
    * sharing no tokens. Differs from [[graft.ops.Dedup.embedCosineApply]]
    * in the candidate generator: k-means cells (data-adaptive, what the
    * paper uses) instead of data-oblivious sign-LSH bands.
    *
    * Determinism & oracle: the quantizer is [[kmeansMicro]] (pure integer
    * function of the input set); final assignment uses the same exact
    * integer metric (tie → lower cent_id); the in-cell verify is the
    * fused exact double cosine (bit-identity with dot/(na·nb) pinned by
    * sim_topk_native's oracle); component keeper = min id (order-free).
    * Zero vectors have no cosine direction and are excluded from
    * ASSIGNMENT (operator contract, same as every ANN path here —
    * training is unfiltered, mirroring ivfTopKKmeans); excluded rows
    * keep themselves with a null cell.
    *
    * Output: one row per input vector — (vec_id, cell, keep_id, kept).
    *
    * 100 TB shape: assignment is a NARROW fold over the collected
    * centroid model (zero shuffle on the corpus); the quadratic stage is
    * the within-cell self-join, whose cell sizes are bounded by scaling
    * `centroids` with the corpus (the paper runs C ≈ N/10⁴ — the model
    * stays a driver-side fit because kmeansMicro pulls C packed rows per
    * iteration, not the corpus); component resolution shuffles compact
    * (long, long) pairs only. Text/vectors never enter the CC join. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.35, centroids: Int = 16,
      iters: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cents = kmeansMicro(corpus, idCol, vecCol, centroids, iters)
    val centsLit = typedLit(cents)
    // assigned feeds BOTH sides of the in-cell self-join and the final
    // left join — persist barrier per the file-wide convention
    val assigned = Par.spread(corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("cv"))
      .filter(nonZeroVec(col("cv"))), "vec_id")
      .withColumn("vm", microCol(col("cv")))
      .withColumn("cell", assignCell(centsLit, col("vm")))
      .drop("vm")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("cv").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("cv").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      // threshold BEFORE any exchange — cosine is a pure pair function
      .filter(expr("cosine_sim(va, vb)") >= minCosine)
      .select(col("doc_a"), col("doc_b"))
    val clusters = Dedup.resolveClusters(pairs)
    corpus.select(col(idCol).cast("long").as("vec_id"))
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"), "left")
      .join(clusters, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_keep_id"), col("vec_id")).as("keep_id"),
        (coalesce(col("cluster_keep_id"), col("vec_id")) === col("vec_id"))
          .as("kept"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline. All of these
  * are built from codegen'd Catalyst builtins (md5 / higher-order array
  * functions / hash-joins) — no Scala UDF in the candidate-generation hot
  * path, so every stage stays inside WholeStageCodegen and scales by
  * shuffle on compact keys (hashes), never on full documents.
  *
  * Scale design (100 TB): every pairwise candidate generator here works by
  * emitting a SMALL key per document (md5 text hash, minhash band hashes,
  * simhash bands) and shuffling only (key, doc_id) pairs — document text
  * never moves through a join. Skewed keys (e.g. empty-text clusters) are
  * bounded by the `maxBucket` guard.
  */
object Dedup {

  /** Character shingles: 8-grams every 4 chars, 1-based positions —
    * exactly mirrorable in DuckDB as
    * list_transform(range(1, greatest(length(t)-7,1)+1, 4), i -> substr(t,i,8)). */
  def shinglesExpr(textCol: String): Column =
    expr(s"transform(sequence(1, greatest(length($textCol)-7, 1), 4), i -> substring($textCol, i, 8))")

  /** MinHash signature: k permutations simulated by seeded md5; the min is
    * taken lexicographically over hex strings (identical semantics in any
    * SQL engine with md5 — the cross-engine determinism requirement). */
  def minhashExpr(shinglesCol: String, k: Int): Column =
    expr(s"transform(sequence(0, ${k - 1}), s -> array_min(transform($shinglesCol, x -> md5(concat(cast(s as string), ':', x)))))")

  /** Exact dedup: group by content hash. Returns one row per distinct
    * content: (h, n, keep_id) — keep the smallest id (deterministic). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))

  /** CCNet-style text normalization for dedup KEYS (Wenzek et al. 2020
    * §3.1 deduplicate on lowercased, digit-folded, punctuation-stripped
    * text so trivial formatting edits don't defeat the hash): lowercase
    * → digits→'0' → ASCII punctuation dropped (the four hex ranges
    * x21-2f, x3a-40, x5b-60, x7b-7e — spelled explicitly, Java and RE2
    * read them identically where named classes differ) → space runs
    * collapsed → trimmed. Accent folding is OUT OF SCOPE (non-ASCII
    * passes through untouched) — CCNet drops accents too, but there is
    * no accent algebra both engines share, and a one-sided fold would
    * silently de-sync keys. The normalized form is a KEY, never
    * content: consumers keep the original text. */
  def normalizeCcnet(c: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(lower(c),
      lit("[0-9]"), lit("0")),
      lit("[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]"), lit("")),
      lit(" +"), lit(" ")))

  /** The DuckDB twin of [[normalizeCcnet]] over SQL expression `x` —
    * kept beside the Column form so the two algebras cannot drift. */
  def normalizeCcnetSql(x: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(lower($x), " +
      s"'[0-9]', '0', 'g'), " +
      s"'[\\x21-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-\\x7e]', '', 'g'), " +
      s"' +', ' ', 'g'))"

  /** Normalized exact dedup: [[exact]]'s keep-first grouping on the
    * [[normalizeCcnet]] key instead of the raw text hash. One row per
    * INPUT document (the apply view): (doc_id, nkey, keep_id, group_n).
    *
    * 100 TB shape: identical to exact dedup — the normalization is a
    * narrow codegen'd projection feeding md5, the group stats are a
    * two-phase hash agg on 32-char keys, and the join-back fans the
    * one group row out; the keyed table carries the signature-table
    * persist barrier (it feeds both the agg and the join-back). */
  def normalizedDedup(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // null text folds to the sentinel key '' (not an md5 hex, so it
    // can never collide with a real group): the one-row-per-input
    // contract must survive null docs — a NULL key would silently
    // drop them at the inner join-back
    val keyed = docs.select(col(idCol).cast("long").as("doc_id"),
      coalesce(md5(normalizeCcnet(col(textCol)).cast("binary")), lit(""))
        .as("nkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val groups = keyed.groupBy("nkey")
      .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("keep_id"))
    keyed.join(groups, Seq("nkey"))
      .select(col("doc_id"), col("nkey"), col("keep_id"), col("group_n"))
  }

  /** Minhashes per signature ([[minhashLsh]], [[minhashIncremental]]):
    * the width the native `minhash_sigs` computes. */
  private val MinhashK = 8

  /** LSH bands per signature, each of MinhashK / MinhashBands minhashes. */
  private val MinhashBands = 4

  /** The (id, sig) signature projection shared by [[minhashLsh]] and
    * [[minhashIncremental]] — ONE owner so batch and incremental dedup
    * can never hash differently. The native fused expression
    * (graft.functions.MinhashSigs) computes the same md5 minima as the
    * builtin [[shinglesExpr]] + [[minhashExpr]] spec with no per-shingle
    * allocation; their equality is test-pinned. */
  private def sigsOf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // spread BEFORE the signature projection: the k×shingles md5 work is
    // the operator's CPU floor and must not serialize on one scan split
    val base = Par.spread(
      docs.select(col(idCol).as("id"), col(textCol).as("mh_text")), "id")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    base.select(col("id"), expr("minhash_sigs(mh_text)").as("sig"))
  }

  /** One row per (doc, band): `bandSql` yields each doc's array of band
    * keys, exploded to (band_idx, band) beside every input column — the
    * banding step minhash, simhash and embed-cosine share. */
  private def banded(sig: DataFrame, bandSql: String): DataFrame =
    sig.select(col("*"), posexplode(expr(bandSql)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band")

  /** Band-hash explode + [[Cap.window]] over a [[sigsOf]] signature
    * table (extra columns ride through) — the other half of the shared
    * LSH algebra ([[minhashLsh]] and [[minhashIncremental]] both join
    * on its output; a private copy drifting in either would bucket
    * batch and incremental dedup differently). The cap's persist
    * materializes the signatures once: without the barrier Catalyst
    * inlines the k×shingles md5 tree into BOTH join sides and into
    * est_jaccard, recomputing it ~6× per row. At warehouse scale this
    * persist is a real signature table (write once, join many). */
  private def bandedCapped(sig: DataFrame, maxBucket: Int): DataFrame = {
    val rows = MinhashK / MinhashBands
    // window shape (r06): two-phase cap + distinct-early pairs benched
    // 1.89 s vs 1.25 s for this one (interleaved medians)
    Cap.window(banded(sig,
      s"transform(sequence(0, ${MinhashBands - 1}), b -> md5(array_join(slice(sig, b*$rows+1, $rows), '|')))"),
      Seq("band_idx", "band"), maxBucket)
  }

  /** est_jaccard per distinct pair of banded matches carrying
    * `sig_a`/`sig_b`, keyed by the pair columns `a`, `b`. The duplicate-
    * pair collapse runs BEFORE the est evaluation: a pair sharing several
    * bands appears once per shared band, and sig is a pure function of
    * the unique id, so first() per pair is deterministic and the k-wide
    * zip/filter/size HOF runs once per DISTINCT pair instead of once per
    * band copy (benched −0.1 s vs est-then-distinct; the same collapse
    * via a distinct-pairs + sig re-attach join benched −0.6 s WORSE). */
  private def estJaccard(matches: DataFrame, a: String,
      b: String): DataFrame =
    matches.groupBy(a, b)
      .agg(first(col("sig_a")).as("sig_a"), first(col("sig_b")).as("sig_b"))
      .select(col(a), col(b),
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($MinhashK as double)")
          .as("est_jaccard"))

  /** MinHash + LSH near-dup candidates. 8 minhashes, 4 bands of 2 rows
    * each. Returns (doc_a, doc_b, est_jaccard) for pairs
    * sharing ≥1 band, est_jaccard = fraction of equal minhashes.
    *
    * Shuffle profile: explode to (band_idx, band, id) — 4 band
    * strings per doc — then a self-join on the band key. At 10^12 docs
    * the band table is ~4×10^12 short rows, hash-partitioned by band
    * key; the join never touches document text. `maxBucket` caps
    * pathological buckets (e.g. boilerplate-identical docs) to bound the
    * quadratic blowup — the skew guard. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 50): DataFrame =
    estJaccard(Cap.pairs(bandedCapped(sigsOf(docs, idCol, textCol),
      maxBucket), Seq("band_idx", "band"), "sig"), "doc_a", "doc_b")

  /** Distinct-shingle intersection table: one row per co-shingled pair
    * (doc_a < doc_b) with `inter` shared-shingle count and both docs'
    * distinct-shingle sizes over the shingles occurring in ≤
    * `maxBucket` docs. The cap defines the UNIVERSE, consistently for
    * numerator and denominator: sizes are counted over the same capped
    * shingle set the intersection joins on (counting hot boilerplate
    * shingles in sizes but never in the intersection would silently
    * understate every downstream metric touching them). Quadratic in
    * bucket size — apply AFTER an LSH prefilter at scale. ONE owner of
    * the gram/bucket/self-join core consumed by [[ngramJaccard]]
    * (symmetric resemblance) and [[containmentPairs]] (asymmetric
    * containment) — a private copy drifting in either would silently
    * de-sync the two verifiers. */
  private def gramIntersections(docs: DataFrame, idCol: String,
      textCol: String, maxBucket: Int): DataFrame = {
    val sh = Par.spread(
        docs.select(col(idCol).as("id"), col(textCol).as("gi_text")), "id")
      .select(col("id"), explode(array_distinct(shinglesExpr("gi_text"))).as("sh"))
    // two-phase shape (r06): boilerplate shingles are hot, and the window
    // cap measured 2.29 s vs 1.94 s for containment. bucketed stays the
    // FORK barrier (sizes + both self-join sides); sh itself is evaluated
    // twice inside the one materialization (count side + probe side — a
    // cheap no-hash explode).
    val bucketed = Cap.counted(sh, Seq("sh"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Cap.withSizes(Cap.pairs(bucketed, Seq("sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter")), bucketed)
  }

  /** Exact n-gram Jaccard for near-dup verification: exact |∩|/|∪|
    * over [[gramIntersections]]' capped shingle universe — exposed
    * standalone for small candidate sets and for the oracle. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5, maxBucket: Int = 100): DataFrame =
    gramIntersections(docs, idCol, textCol, maxBucket)
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Asymmetric CONTAINMENT pairs [public technique: Broder 1997
    * "On the resemblance and containment of documents" — containment
    * c(A,B) = |S(A)∩S(B)| / |S(A)|]: flags pairs where one document's
    * shingle set is mostly inside the other's — quotes, excerpts, and
    * page-plus-boilerplate supersets that SYMMETRIC Jaccard scores low
    * (a small doc fully contained in a big one has tiny resemblance but
    * containment 1000). Exact integer milli fractions over the same
    * distinct-shingle intersection core as [[ngramJaccard]]; a pair
    * surfaces when either direction reaches `minContainMilli`. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      minContainMilli: Int = 800, maxBucket: Int = 100): DataFrame =
    gramIntersections(docs, idCol, textCol, maxBucket)
      .withColumn("contain_a_milli", expr("1000 * inter div sz_a"))
      .withColumn("contain_b_milli", expr("1000 * inter div sz_b"))
      .filter(greatest(col("contain_a_milli"), col("contain_b_milli"))
        >= lit(minContainMilli.toLong))
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        col("inter"), col("contain_a_milli"), col("contain_b_milli"))

  /** 64-bit SimHash over whitespace tokens; each token-hash bit votes ±1,
    * sign → signature bit. The token hash is the first 16 hex chars of
    * md5(token) — pure Catalyst builtins (no UDF), chosen so the oracle
    * can recompute the identical signature in DuckDB with the same string
    * primitives (md5 / strpos / list_sum). Bit b (0 = LSB) lives in hex
    * char 16 - b/4, nibble bit b%4. The signature is represented as an
    * array<int> of 64 0/1 bits: integer vote sums are order-independent
    * and exact, so the whole computation is engine-agnostic.
    *
    * Near-dup pairs = equal 16-bit band (4 bands) + Hamming ≤ `maxHamming`.
    * Scale shape: banded self-join on (band_idx, band) — only compact
    * (band, id, bits) rows shuffle, never text; `maxBucket` exactly caps
    * pathological buckets (16-bit band values have only 65536 distinct
    * values, so at corpus scale the cap is load-bearing, not cosmetic). */
  def simhashBitsExpr(textCol: String): Column = expr(
    // one pass over the token hashes with a 64-wide vote accumulator:
    // md5 runs exactly once per token no matter how Catalyst collapses
    // projections (a per-bit formulation would re-evaluate an inlined
    // hash array 64×)
    s"""transform(
          aggregate(
            transform(filter(split($textCol, ' '), x -> x != ''),
                      t -> substring(md5(t), 1, 16)),
            transform(sequence(0, 63), b -> 0),
            (acc, h) -> zip_with(acc, sequence(0, 63), (a, b) ->
              a + 2 * pmod(shiftright(instr('0123456789abcdef', substring(h, 16 - (b div 4), 1)) - 1, pmod(b, 4)), 2) - 1)),
          c -> case when c > 0 then 1 else 0 end)""")

  /** The production signature path: the native codegen'd `simhash64`
    * expression (graft.functions.Simhash64) computes the SAME 64 bits as
    * `simhashBitsExpr` (pinned by a test) in one fused pass and returns
    * them as ONE long — banding shuffles 8-byte keys and hamming is a
    * single bit_count(xor). */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // NO input spread here (unlike minhashLsh): simhash64 is one md5 per
    // token — ~140 ms single-task at bench scale — and the banding
    // window's exchange redistributes immediately after it anyway;
    // adding a spread exchange was benched at +0.12 s (r06)
    val sig = docs
      .select(col(idCol).as("id"), expr(s"simhash64($textCol)").as("simhash"))
    // window shape (r06): its exchange is the path's only one (the
    // two-phase form of the banded minhash cap measured 1.89 s vs 1.25 s)
    val sized = Cap.window(banded(sig,
      "transform(sequence(0, 3), k -> cast(shiftright(simhash, k*16) & 65535 as int))"),
      Seq("band_idx", "band"), maxBucket)
    Cap.pairs(sized, Seq("band_idx", "band"), "simhash")
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(simhash_a ^ simhash_b) as bigint)").as("hamming"))
      // hamming is a pure function of the pair, so the threshold
      // commutes with distinct — filter FIRST so the dedup exchange
      // carries only surviving pairs (at maxHamming=3 most candidates
      // are above threshold and would otherwise shuffle just to drop)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-dup via random-hyperplane (sign) LSH
    * [Charikar, STOC 2002 SimHash/rounding — public technique]: each of
    * `planes` deterministic ±1 hyperplanes contributes one sign bit
    * (P[bit differs] = angle/π), bits are banded, and candidate pairs
    * sharing a band are verified with the EXACT cosine — precision 1,
    * recall tuned by plane/band count.
    *
    * Determinism & oracle: plane coefficients derive from md5("p:d")
    * (first hex digit ≥ 8 → +1 else −1), so DuckDB rebuilds the identical
    * matrix; the projection is the same sequential double fold as the
    * cosine math (bit-identical across engines).
    *
    * 100 TB shape: the plane matrix is a broadcast model applied in a
    * narrow projection — zero-shuffle signatures; the banded self-join
    * shuffles (band, id, vec) rows. bandBits = planes/bands bounds bucket
    * count at 2^bandBits per band: GROW `planes` with corpus size (256
    * planes → 16-bit bands) so buckets stay selective; `maxBucket` is the
    * hard skew cap either way. */
  def embeddingCosineLsh(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int = 64, minCosine: Double = 0.35, planes: Int = 64,
      bands: Int = 8, maxBucket: Int = 10000): DataFrame = {
    require(bands >= 1 && planes >= bands && planes % bands == 0,
      s"embeddingCosineLsh needs planes divisible by bands, " +
        s"got planes=$planes bands=$bands")
    val bandBits = planes / bands
    // plane matrix as a BROADCAST variable, not a typedLit: at the
    // documented scale path (planes 256 × dims up to 4k) a literal is a
    // multi-MB expression tree serialized into every task's plan — the
    // broadcast ships once per executor and the plan carries only the
    // closure reference. Flat row-major Array[Double] for a tight
    // per-row loop.
    val planeFlat = new Array[Double](planes * dims)
    for (p <- 0 until planes; d <- 0 until dims) {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      planeFlat(p * dims + d) = if (((h(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
    }
    val bcPlanes = emb.sparkSession.sparkContext.broadcast(planeFlat)
    val (nP, nD) = (planes, dims)
    // bit p = sign of the SEQUENTIAL left-fold sum over d of c_pd·v_d —
    // the exact fold order of the previous literal form
    // aggregate(zip_with(cs, v, c·x), 0.0, +), so signatures (and the
    // DuckDB oracle replaying the same algebra) are bit-identical. A
    // null vector or null element (missing data) yields all-zero bits,
    // matching when(null >= 0).otherwise(0); a NaN sum signs to 1
    // (Spark SQL orders NaN above every value — unlike Scala's
    // primitive NaN >= 0). A RAGGED length is a structural contract
    // violation and throws LOUDLY per row: silently zero-banding a
    // mixed-dims corpus would funnel every ragged row into the all-zero
    // bucket (then the skew cap silently drops them) — and a driver-
    // side one-row probe both misses ragged tails and forces an eager
    // Spark job at plan-construction time.
    val bitsUdf = udf { (v: Seq[java.lang.Double]) =>
      if (v == null || v.exists(_ == null))
        Seq.fill(nP)(0)
      else if (v.length != nD)
        throw new IllegalArgumentException(
          s"embeddingCosineLsh dims=$nD but a vector has ${v.length} " +
            "elements — pass dims explicitly")
      else {
        val m = bcPlanes.value
        val out = new Array[Int](nP)
        var p = 0
        while (p < nP) {
          var acc = 0.0
          val off = p * nD
          var d = 0
          while (d < nD) { acc += m(off + d) * v(d); d += 1 }
          out(p) = if (acc >= 0 || acc.isNaN) 1 else 0
          p += 1
        }
        out.toSeq
      }
    }
    // spread BEFORE the projection UDF (planes×dims multiply per row —
    // the CPU floor must not serialize on one scan split)
    val sig = Par.spread(
        emb.select(col(idCol).as("id"), col(vecCol).as("v")), "id")
      .withColumn("bits", bitsUdf(col("v").cast("array<double>")))
    // window shape (r06): two-phase cap + distinct-early pair/payload
    // re-attach lost to its extra exchanges (minhash: 1.89 s vs 1.25 s)
    val sized = Cap.window(banded(sig,
      s"transform(sequence(0, ${bands - 1}), k -> aggregate(sequence(0, ${bandBits - 1}), 0, (acc, j) -> acc + element_at(bits, k*$bandBits + j + 1) * shiftleft(1, j)))"),
      Seq("band_idx", "band"), maxBucket)
    // in-bucket verify through the native fused cosine — the quadratic
    // stage; bit-identical to dot/(na·nb) with precomputed norms (pinned
    // by sim_topk_native's shared oracle)
    graft.functions.GraftFunctions.register(emb.sparkSession)
    Cap.pairs(sized, Seq("band_idx", "band"), "v")
      .withColumn("rawcos", expr("cosine_sim(v_a, v_b)"))
      // cosine is a pure function of the pair — threshold before the
      // distinct exchange (same commute argument as simhash)
      .filter(col("rawcos") >= minCosine)
      .select(col("doc_a"), col("doc_b"), round(col("rawcos"), 6).as("cos"))
      .distinct()
  }

  /** The largest edge table [[resolveClusters]] resolves on the driver.
    * At most `LocalEdges + 1` rows of two longs are pulled whatever the
    * input size: 2^16 edges ≈ 1 MiB of ids (a few MiB as JVM rows). A
    * fixed constant, not a setting — above it the distributed walk
    * runs. */
  private[graft] val LocalEdges: Int = 1 << 16

  /** Near-dup cluster resolution: connected components over candidate
    * pairs → (doc_id, cluster_keep_id) with keep = the component's
    * minimum id — the fuzzy-path analog of `exact`'s keep_id. Without
    * this, LSH/simhash emit pairs but nothing actually deduplicates.
    *
    * The algorithm is chosen from the size of the [[edgeTable]], which
    * is built and persisted once:
    *  - at most [[LocalEdges]] rows: [[unionFindClusters]] on the
    *    driver. The result is a local relation, so every caller's
    *    join-back broadcasts it.
    *  - more rows: [[minLabelClusters]], the distributed walk over the
    *    persisted edges; no driver-side graph.
    * The bounded pull that decides runs when this DataFrame is BUILT:
    * a documented driver-side step of a few Spark jobs (three on a
    * small input under AQE: the distinct's exchange, the cache, the
    * take) before any action on the result; the distributed walk's
    * rounds run then too.
    * Both paths yield the per-component minimum, so the rows are
    * identical whichever path runs. A NULL endpoint links nothing: it
    * yields one (null, null) row. Non-convergence of the distributed
    * walk within `maxIters` throws (deterministic failure beats
    * silently-partial clusters). */
  def resolveClusters(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 50): DataFrame = {
    val edges = edgeTable(pairs, aCol, bCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pulled = edges.limit(LocalEdges + 1).collect()
      if (pulled.length <= LocalEdges)
        unionFindClusters(edges.sparkSession, pulled,
          edges.schema("src").nullable)
      else minLabelClusters(edges, maxIters)
    } finally {
      // both results are materialized (a local relation, or the walk's
      // localCheckpoint), so the edge cache can drop on EVERY exit path
      // — including the non-convergence throw (a caught failure must
      // not pin the cache for the session's lifetime)
      edges.unpersist(); ()
    }
  }

  /** [[resolveClusters]]' edge table: (src, dst) ids cast to long, in
    * both directions, distinct; `pairs` is read once. */
  private[graft] def edgeTable(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    // numeric ids only, checked at the SCHEMA level: under LEGACY
    // (non-ANSI) mode cast("long") turns an opaque string id into NULL
    // silently, every edge collapses to (null, null), and the result is
    // one garbage null-keyed "cluster" with no error anywhere
    Seq(aCol, bCol).foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = pairs.schema(pairs.schema.fieldIndex(c)).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"resolveClusters needs integral ids; '$c' is $dt — map opaque " +
          "ids to longs (e.g. xxhash64) before clustering")
    }
    // both orientations from ONE scan: a union of the pairs with their
    // mirror would plan the whole candidate pipeline twice, and AQE does
    // not reuse the twin's exchanges
    def edge(s: String, d: String) =
      struct(col(s).cast("long").as("src"), col(d).cast("long").as("dst"))
    pairs.select(explode(array(edge(aCol, bCol), edge(bCol, aCol))).as("e"))
      .select("e.*").distinct()
  }

  /** [[resolveClusters]]' driver path over pulled (src, dst) edge rows:
    * a union-find with path compression that links the larger root
    * under the smaller, so every root is its component's minimum id.
    * An edge with a NULL endpoint links nothing; NULL itself becomes
    * one (null, null) row, as in the distributed walk. */
  private[graft] def unionFindClusters(spark: SparkSession,
      edges: Array[Row], nullable: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    var hasNull = false
    edges.foreach { e =>
      val ends = Seq(0, 1).filterNot(e.isNullAt).map(e.getLong)
      ends.foreach(x => parent.getOrElseUpdate(x, x))
      if (ends.length < 2) hasNull = true
      else {
        val (ra, rb) = (find(ends(0)), find(ends(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val rows = parent.keys.toSeq.map(x => Row(x, find(x))) ++
      (if (hasNull) Seq(Row(null, null)) else Nil)
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", LongType, nullable),
      StructField("cluster_keep_id", LongType, nullable))))
  }

  /** [[resolveClusters]]' distributed path over an [[edgeTable]] the
    * caller has persisted: iterative min-label propagation on the
    * COMPACT id graph (edges are (long, long) pairs — document text
    * never enters), with a POINTER-JUMPING round after each propagation
    * (label(v) ← label(label(v))): labels chase their own current root,
    * so a chain of length d converges in O(log d) rounds instead of
    * O(d) — chained near-dups at corpus scale can't blow the round
    * budget. The fixpoint is the per-component minimum, independent of
    * execution order (deterministic). Each round is a constant number
    * of shuffles of 16-byte rows — the iterative-small-key-join shape.
    * Non-convergence within `maxIters` throws. */
  private[graft] def minLabelClusters(edges: DataFrame,
      maxIters: Int): DataFrame = {
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // propagate: take the minimum over neighbour labels
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("nid"), col("label"))
        .groupBy("nid").agg(min("label").as("nbr_min"))
      val prop = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id").as("id"), labels("label").as("old_label"),
          least(labels("label"), coalesce(col("nbr_min"), labels("label")))
            .as("label"))
      // pointer-jump: follow the label's own label one hop. The self-join
      // references `prop` twice, so WITHOUT a lineage cut the logical plan
      // would double per round (exponential analysis cost); the eager
      // localCheckpoint below truncates it to a leaf each round. (On a
      // real cluster with lossy executors use reliable checkpointing —
      // same call shape, sc.setCheckpointDir.)
      val roots = prop.select(col("id").as("rid"), col("label").as("rlabel"))
      // LAZY checkpoint: the convergence count below is the first action,
      // so it doubles as the checkpoint's materialization job — one job
      // per round instead of two (eager + count), same truncated lineage
      val next = prop.join(roots, prop("label") === roots("rid"), "left")
        .select(prop("id").as("id"), prop("old_label").as("old_label"),
          least(prop("label"), coalesce(col("rlabel"), prop("label")))
            .as("label"))
        .localCheckpoint(false)
      changed = next.filter(col("label") =!= col("old_label")).count()
      labels = next.select("id", "label")
      iter += 1
    }
    require(changed == 0,
      s"resolveClusters did not converge within $maxIters rounds")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_keep_id"))
  }

  /** The fuzzy-dedup APPLY step: minhash-LSH pairs → [[resolveClusters]]
    * components → left join back to the corpus so EVERY document carries
    * its keeper: (doc_id, keep_id, kept) with keep_id = the component's
    * minimum id (itself for singletons/non-candidates). The same keeper
    * contract as [[exact]], on the fuzzy path — `kept=false` rows are
    * the ones a drop-duplicates materialization would remove. */
  def minhashApply(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val clusters = resolveClusters(
      minhashLsh(docs, idCol, textCol).select("doc_a", "doc_b"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_keep_id"), col("doc_id")).as("keep_id"),
        (coalesce(col("cluster_keep_id"), col("doc_id")) === col("doc_id"))
          .as("kept"))
  }

  /** [[minhashApply]] with a QUALITY keeper: the cluster representative
    * is the LONGEST member (word count), smallest id on ties — real
    * dedup pipelines keep the best copy, not the smallest id (the
    * longest near-duplicate is usually the least truncated one; the
    * reference's analogous choice is keeping the richest version of a
    * page — graft_page keeps the base page and grafts only the layer
    * that adds text, /root/reference/src/ocrmypdf/_graft.py:336-351).
    *
    * Output: (doc_id, cluster_id, n_words, keep_id, kept) — cluster_id
    * is the component's min-label (stable across keeper policies),
    * keep_id the argmax member. 100 TB shape: the labeled table is one
    * compact (id, label, count) row per doc and feeds both the per-
    * cluster argmax and the join-back, so it carries the signature-
    * table persist barrier; the argmax is max(struct(...)) — a two-
    * phase partial agg, never a sort. */
  def minhashApplyKeepBest(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val clusters = resolveClusters(
      minhashLsh(docs, idCol, textCol).select("doc_a", "doc_b"))
    val labeled = docs
      .select(col(idCol).cast("long").as("doc_id"),
        size(TextGrams.wordsExpr(textCol)).cast("long").as("n_words"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("cluster_keep_id"), col("doc_id")).as("cluster_id"))
      // barrier: labeled feeds the argmax agg AND the join-back
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = labeled.groupBy("cluster_id")
      .agg(max(struct(col("n_words"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("cluster_id"), (-col("b.nid")).as("keep_id"))
    labeled.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_words"),
        col("keep_id"), (col("keep_id") === col("doc_id")).as("kept"))
  }

  /** INCREMENTAL exact dedup — the continuous-crawl admission step: a
    * new batch is admitted against an already-kept corpus, so a
    * document enters only if its content hash is unseen BOTH in the
    * existing corpus and earlier (min id) in its own batch (the
    * reference's analogous policy is skip-text: a page whose text layer
    * ALREADY exists is not re-OCRed,
    * /root/reference/src/ocrmypdf/_pipeline.py:337-372).
    *
    * Output: one row per incoming doc — (doc_id, admitted, reason)
    * with reason ∈ {'admitted','dup_existing','dup_batch'}
    * ('dup_existing' wins when both apply: the batch copy of an
    * already-kept text is a duplicate of the CORPUS first).
    *
    * 100 TB shape: the existing side collapses to a one-column DISTINCT
    * hash exchange (at warehouse scale a bloom/Iceberg-manifest
    * pre-filter feeding this exact join); the incoming side shuffles
    * 16-byte md5 keys twice (flag join, batch argmin), text never
    * moves. The flagged table feeds the argmin AND the join-back, so it
    * carries the signature-table persist barrier. */
  def incrementalExact(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val seen = existing.select(md5(col(textCol)).as("h")).distinct()
      .withColumn("in_ex", lit(true))
    val flagged = incoming
      .select(col(idCol).cast("long").as("doc_id"), md5(col(textCol)).as("h"))
      .join(seen, Seq("h"), "left")
      .select(col("doc_id"), col("h"),
        coalesce(col("in_ex"), lit(false)).as("in_ex"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = flagged.filter(!col("in_ex"))
      .groupBy("h").agg(min(col("doc_id")).as("first_id"))
    flagged.join(firsts, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("in_ex"), lit("dup_existing"))
          .when(col("doc_id") === col("first_id"), lit("admitted"))
          .otherwise(lit("dup_batch")).as("reason"))
      .select(col("doc_id"), (col("reason") === "admitted").as("admitted"),
        col("reason"))
  }

  /** [[incrementalExact]]'s FUZZY twin — the continuous-crawl near-dup
    * admission step: minhash-LSH candidates of the incoming batch
    * against an already-kept corpus. Returns one row per (incoming,
    * existing) pair sharing ≥ 1 LSH band after the skew cap:
    * (doc_id, dup_of, est_jaccard) with doc_id ∈ incoming and dup_of ∈
    * existing; an admission policy composes as an anti-join on doc_id
    * (batch-internal near-dups are [[minhashApply]]'s job on the batch).
    *
    * 100 TB shape: at warehouse scale the existing side is the PERSISTED
    * signature table ([[minhashLsh]]'s barrier made durable) — only the
    * incoming batch is shingled and hashed; here both sides run through
    * the shared [[sigsOf]] owner so the hashes provably agree. The skew
    * cap counts bucket size across BOTH sides (a boilerplate bucket is
    * hot regardless of which crawl it arrived in), the banded join
    * shuffles compact (band, hash, id) rows, and text never moves. */
  def minhashIncremental(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, maxBucket: Int = 50): DataFrame = {
    val sig = sigsOf(existing, idCol, textCol)
      .withColumn("is_new", lit(false))
      .unionAll(sigsOf(incoming, idCol, textCol)
        .withColumn("is_new", lit(true)))
    val sized = bandedCapped(sig, maxBucket)
    // asymmetric, not Cap.pairs: only incoming × existing pairs count
    val a = sized.filter(col("is_new")).select(col("band_idx"),
      col("band"), col("id").as("doc_id"), col("sig").as("sig_a"))
    val b = sized.filter(!col("is_new")).select(col("band_idx"),
      col("band"), col("id").as("dup_of"), col("sig").as("sig_b"))
    estJaccard(a.join(b, Seq("band_idx", "band")), "doc_id", "dup_of")
  }

  /** [[minhashApply]]'s embedding-space twin: sign-LSH cosine pairs →
    * components → per-vector (vec_id, keep_id, kept). Same keeper
    * contract; semantic near-duplicates (paraphrases with high
    * embedding cosine) that token-level minhash cannot see. */
  def embedCosineApply(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int = 64): DataFrame = {
    val clusters = resolveClusters(
      embeddingCosineLsh(emb, idCol, vecCol, dims = dims)
        .select("doc_a", "doc_b"))
    emb.select(col(idCol).cast("long").as("vec_id"))
      .join(clusters, col("vec_id") === col("doc_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_keep_id"), col("vec_id")).as("keep_id"),
        (coalesce(col("cluster_keep_id"), col("vec_id")) === col("vec_id"))
          .as("kept"))
  }

  /** Exact substring-level dedup [public technique: Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr]: find every maximal run of ≥ `minLen` characters that
    * occurs more than once in the corpus — at ARBITRARY boundaries, the
    * modality passage/document hashing cannot see.
    *
    * Formulation (the Spark-native equivalent of the paper's suffix
    * array): hash every `minLen`-gram at every position (stride 1), keep
    * hashes occurring >1 time, merge each document's surviving positions
    * into maximal runs (gaps-and-islands). A character belongs to a run
    * iff it is inside some duplicated `minLen`-gram — exactly the paper's
    * duplicated-span definition.
    *
    * 100 TB shape: the position table is O(total chars) compact rows
    * (16-byte hash, id, pos) — the same asymptotic footprint as the
    * paper's suffix array — and it is read exactly once, never
    * persisted. Two shuffles: one on `h`, where a window count over the
    * key group keeps the duplicated windows in place (a count aggregate
    * would need a join back to the grams, and so a second read or a
    * cache of them), then the doc re-group of the islands merge. Text
    * never moves. A hot `h` is one window group, which
    * `WindowExec` buffers with spill on a single reducer. A join on `h`
    * would not be held to one: under AQE, which `Jobs.scaleConfs` turns
    * on, Spark's skew-join rule splits a skewed join partition, and
    * Spark has no such rule for a window partition. That is Spark's
    * documented behaviour, not measured here; a workload with hot grams
    * is the measurement. Windows are keyed by
    * [[TextGrams.charGramsExpr]], the native O(n) Karp-Rabin
    * `rolling_hash2`. */
  def substringRuns(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40): DataFrame =
    runsFromDupPositions(gramTable(docs, idCol, textCol, minLen)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("n") > 1), minLen)

  /** The (doc_id, pos, h) gram projection the substring operators
    * share: every `minLen`-gram of every long-enough doc, 1-based pos,
    * `h` its [[TextGrams.charGramsExpr]] key. */
  private def gramTable(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Par.spread(docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .filter(length(col("text")) >= minLen), "doc_id")
      .select(col("doc_id"),
        posexplode(TextGrams.charGramsExpr("text", minLen)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
  }

  /** [[substringRuns]] under its earlier scale-path name, which the
    * `dedup_substrings_rolling` query and the bench still call. */
  def substringRunsRolling(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40): DataFrame = substringRuns(docs, idCol, textCol, minLen)

  /** Keep-first variant of exact substring dedup [Lee et al. 2021's
    * keep-one-occurrence option]: per duplicated gram family the OWNER
    * occurrence — the lexicographically lowest (doc_id, pos) — retains
    * its copy; only non-owner occurrences become removable runs. For a
    * full run duplicated across documents every gram family's owner
    * lies in the same earliest copy, so that copy emits no run at all
    * (it is kept verbatim) while every later copy emits the full run;
    * within one document the first occurrence is kept. Ownership is
    * resolved at gram granularity — partially-overlapping families cut
    * exactly the characters covered by some non-owner duplicated gram,
    * the removable-span twin of `substringRuns`' definition.
    *
    * 100 TB shape: identical to `substringRuns` — the owner is a
    * `min(struct(doc_id, pos))` over the same window on `h`, so no
    * extra shuffle, no global coordination step, text still never
    * moves, and a hot `h` is the same single window partition that no
    * skew rule splits. No count is needed: a family of one is its own owner, so
    * dropping owners drops it too. */
  def substringRunsKeepFirst(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40): DataFrame =
    runsFromDupPositions(gramTable(docs, idCol, textCol, minLen)
      .withColumn("own", min(struct(col("doc_id"), col("pos")))
        .over(Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("own.doc_id") ||
        col("pos") =!= col("own.pos")), minLen)

  /** Substring-dedup APPLY: cut every duplicated run (ALL copies) out of
    * every document — the drop-all-occurrences variant of Lee et al.
    * 2021 (keeping exactly one copy would need global owner coordination
    * across arbitrary-boundary overlaps; the public
    * deduplicate-text-datasets tooling removes every duplicated byte the
    * same way). Returns one row per input doc: (doc_id, removed_chars,
    * clean_md5) — rows without duplicated runs pass through with their
    * original text.
    *
    * Dataflow: runs (disjoint, maximal, sorted — adjacent runs always
    * have ≥1 gap char by construction of the island merge) → per-doc gap
    * intervals via a lag window → gap/tail substrings joined from the
    * doc text → skew-safe ordered concat (OrderedMerge, no per-doc
    * buffer) → left join back. Only docs WITH runs pay the join. */
  def substringRunsClean(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40): DataFrame =
    cleanFromRuns(docs, idCol, textCol,
      substringRuns(docs, idCol, textCol, minLen))

  /** Keep-first APPLY: cut only NON-OWNER duplicated runs — the owner
    * copy (lowest (doc_id, pos) per gram family) survives verbatim, so
    * exactly one copy of every duplicated substring remains in the
    * corpus. Same gap-stitching dataflow as [[substringRunsClean]]. */
  def substringRunsCleanKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int = 40): DataFrame =
    cleanFromRuns(docs, idCol, textCol,
      substringRunsKeepFirst(docs, idCol, textCol, minLen))

  private def cleanFromRuns(docs: DataFrame, idCol: String, textCol: String,
      runsIn: DataFrame): DataFrame = {
    // the id stays in its NATIVE type end-to-end (concatOrdered
    // preserves it): no long round-trip, so opaque string ids work
    val d = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val runs = runsIn
      .select(col("doc_id"), col("run_start"), col("run_end"),
        col("run_len"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Window.partitionBy("doc_id").orderBy("run_start")
    val gaps = runs
      .withColumn("gs", coalesce(lag(col("run_end"), 1).over(w), lit(0L)) + 1)
      .withColumn("ge", col("run_start") - 1)
      .select(col("doc_id"), col("gs"), col("ge"))
    val tails = runs.groupBy("doc_id")
      .agg((max(col("run_end")) + 1).as("gs"))
      .select(col("doc_id"), col("gs"), lit(null).cast("long").as("ge"))
    val pieces = gaps.unionByName(tails)
      .join(d, Seq("doc_id"))
      .select(col("doc_id"),
        col("gs"),
        when(col("ge").isNull, expr("substring(text, cast(gs as int), 2147483647)"))
          .otherwise(expr("substring(text, cast(gs as int), cast(ge - gs + 1 as int))"))
          .as("piece"))
    // concatOrdered sorts on the native numeric gs (no lpad gymnastics)
    val cleaned = OrderedMerge.concatOrdered(pieces, "doc_id", "gs",
        "piece", "", mergedName = "clean")
      .select(col("doc_id"), col("clean"))
    val removed = runs.groupBy("doc_id")
      .agg(sum(col("run_len")).as("removed_chars"))
    d.join(cleaned, Seq("doc_id"), "left")
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        md5(coalesce(col("clean"), col("text")).cast("binary")).as("clean_md5"))
  }

  /** Islands tail shared by the drop-all and keep-first formulations:
    * surviving duplicated (doc_id, pos) positions → maximal runs per
    * doc. */
  private def runsFromDupPositions(dupPos: DataFrame,
      minLen: Int): DataFrame = {
    // gaps-and-islands per doc: grams at p1 < p2 overlap/touch iff
    // p2 ≤ p1 + minLen, else a new run starts
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    dupPos.select("doc_id", "pos")
      .withColumn("newrun",
        when(col("pos") > lag(col("pos"), 1).over(wOrd) + minLen, 1)
          .otherwise(lit(0)))
      .withColumn("run_id", sum(col("newrun")).over(wOrd.rowsBetween(
        Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "run_id")
      .agg(min(col("pos")).as("run_start"),
        (max(col("pos")) + lit(minLen) - 1).as("run_end"))
      .select(col("doc_id"), col("run_start").cast("long").as("run_start"),
        col("run_end").cast("long").as("run_end"),
        (col("run_end") - col("run_start") + 1).cast("long").as("run_len"))
  }

  /** Winnowing fingerprints + near-dup candidates [public technique:
    * Schleimer/Wilkerson/Aiken SIGMOD 2003 "Winnowing: Local Algorithms
    * for Document Fingerprinting"]. Per doc: word `n`-gram md5 hashes
    * (shared algebra owner: [[TextGrams.wordGramsExpr]]), then each
    * sliding window of `w` consecutive gram hashes contributes its
    * MINIMUM hash (lexicographic on the hex — identical in DuckDB), and
    * the doc's fingerprint set is the distinct selected hashes. The
    * guarantee winnowing buys over plain MinHash: any shared run of ≥
    * n + w - 1 words between two docs shares at least one fingerprint —
    * LOCAL similarity detection, not just whole-doc resemblance. The
    * guarantee is scoped to fingerprints under the `maxBucket` cap
    * (same convention as ngramJaccard: the cap DEFINES the semantics —
    * a passage shared by more than `maxBucket` docs is cut from
    * candidate generation, deliberately, or the hottest boilerplate
    * would join quadratically). Candidate pairs = docs sharing ≥
    * `minShared` surviving fingerprints.
    *
    * 100 TB shape: fingerprinting is ONE narrow higher-order-function
    * projection (no shuffle until the compact (fp, id) explode); the
    * fp-keyed self-join shuffles 32-char keys only, capped per fp by
    * `maxBucket` (the boilerplate skew guard, same convention as the
    * LSH paths); pair counting collapses map-side. */
  def winnow(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 4, w: Int = 4, minShared: Long = 2L,
      maxBucket: Int = 100): DataFrame = {
    require(n >= 1 && w >= 1, s"n and w must be >= 1, got n=$n w=$w")
    val fps = Par.spread(docs
      .select(col(idCol).as("id"),
        col(textCol)), "id")
      .withColumn("ws", TextGrams.wordsExpr(textCol))
      .withColumn("grams", TextGrams.wordGramsExpr(n))
      // windows of w gram hashes, min each; fewer than w grams → the
      // whole gram list is one window (the paper's short-doc case)
      .withColumn("fp", explode(expr(
        s"""case when size(grams) = 0 then array()
            when size(grams) <= $w then array(array_min(grams))
            else array_distinct(transform(sequence(1, size(grams) - $w + 1),
              i -> array_min(slice(grams, i, $w)))) end""")))
      .select(col("id"), col("fp"))
    // bucket cap on the fp key — same skew guard as the LSH joins; the
    // >= 2 floor prunes singleton fingerprints (the large majority in a
    // real corpus) BEFORE they shuffle into both join sides, where
    // doc_a < doc_b would discard them anyway. Two-phase shape (r06):
    // boilerplate fingerprints are hot; the window cap measured 1.27 s vs
    // 0.78 s. The persist barrier sits on the md5-heavy fingerprint
    // projection the count and probe sides both re-read
    val fpT = fps.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Cap.pairs(Cap.counted(fpT, Seq("fp"), maxBucket, min = 2), Seq("fp"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }
}

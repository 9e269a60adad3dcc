package perfbench

import graft.engine.Extractor
import graft.gen.SyntheticCorpus
import graft.model.ExtractResult
import graft.spark.Jobs
import org.apache.spark.sql.SparkSession

/** Seeded input generators. Each materializes one parquet table; the
  * program under test sees only that table. The same seed gives the
  * same bytes. */
object Inputs {

  /** SyntheticCorpus assigns class `classOf(i)` to row i by residue mod
    * 26; a class owns one or more residues. */
  val residueClass: Vector[String] =
    Vector.tabulate(26)(r => SyntheticCorpus.classOf(r.toLong))
  val classes: Vector[String] = residueClass.distinct

  private def rng(seed: Long, salt: Long) =
    new SyntheticCorpus.Rng(seed * 0x9E3779B97F4A7C15L + salt)

  /** Row indices of a content-weighted class mix. Each class gets a fixed
    * quota of `round(weight * n)` rows (at least one, so every residue
    * of every class is present once `n` allows it) and the order is a
    * seeded shuffle: every seed runs the same class counts with
    * different page contents. Quota k of residue r is row `26 k + r`,
    * so urls are unique. */
  def crawlIndices(n: Int, weights: Map[String, Double], seed: Long): Array[Long] = {
    require(classes.forall(weights.contains),
      s"class weights must name every class: ${classes.mkString(",")}")
    val total = classes.map(weights).sum
    val quota = classes.map(c => math.max(1L, math.round(weights(c) / total * n)).toInt).toArray
    val big = classes.indexOf("article")
    quota(big) += n - quota.sum
    require(quota(big) > 0, s"n=$n is too small for the class mix")
    val resOf = (0 until 26).groupBy(residueClass).map { case (k, v) => k -> v.toArray }
    val next = new Array[Long](26)
    val out = new Array[Long](n)
    var p = 0
    for ((c, ci) <- classes.zipWithIndex; k <- 0 until quota(ci)) {
      val rs = resOf(c)
      val r = rs(k % rs.length)
      out(p) = 26L * next(r) + r
      next(r) += 1
      p += 1
    }
    val g = rng(seed, 1)
    var i = n - 1
    while (i > 0) {
      val j = g.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }

  /** Writes the crawl-mix pages table: rows `SyntheticCorpus.row(idx(k), seed)`. */
  def writeCrawl(spark: SparkSession, idx: Array[Long], seed: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, idx.length.toLong, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(it => it.map(k => SyntheticCorpus.row(idx(k.toInt), seed)))
      .write.parquet(dir)
  }

  /** Writes the uniform 26-class fixture mix exactly as `Jobs.syntheticPages` emits it. */
  def writeUniform(spark: SparkSession, n: Int, seed: Long, dir: String): Unit =
    Jobs.syntheticPages(spark, n.toLong, seed).write.parquet(dir)

  /** A per-class stratified sample of row indices: up to `perClass`
    * seeded picks from each class present in `idx`. */
  def stratified(idx: Array[Long], perClass: Int, seed: Long): Map[String, Vector[Long]] = {
    val g = rng(seed, 2)
    idx.toVector.groupBy(i => SyntheticCorpus.classOf(i)).map { case (c, rows) =>
      val a = rows.toArray
      val m = math.min(perClass, a.length)
      var k = 0
      while (k < m) { // partial Fisher-Yates: the first m slots are the pick
        val j = k + g.nextInt(a.length - k)
        val t = a(k); a(k) = a(j); a(j) = t
        k += 1
      }
      c -> a.take(m).toVector
    }
  }

  /** Scalar reference outputs for a sample, from the generator's rows
    * (not from the materialized table). */
  def reference(sample: Iterable[Long], seed: Long): Map[String, ExtractResult] =
    sample.iterator.map { i =>
      val r = Extractor.extract(SyntheticCorpus.row(i, seed))
      r.url -> r
    }.toMap
}

/** Documents for the dedup workload: a Zipf-weighted vocabulary of
  * pseudo-words (the extractor's 41-word fixture vocabulary makes
  * unrelated pages look alike to minhash), with planted exact
  * duplicates, near duplicates (a few words replaced) and shared
  * boilerplate paragraphs at the rates in the companion object. Every
  * doc is a pure function of (seed, id). */
final class DedupText(seed: Long) extends Serializable {
  import DedupText._

  // English letter frequencies (per mille) and word lengths of 2 to 9
  private val letters = "etaoinshrdlcumwfgypbvkjxqz"
  private val letterCdf: Array[Double] = {
    val f = Array(127, 91, 82, 75, 70, 67, 63, 61, 60, 43, 40, 28, 28, 24, 24,
      22, 20, 20, 19, 15, 10, 8, 2, 2, 1, 1).map(_.toDouble)
    val c = f.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  // the vocabulary is fixed across seeds: the seed picks documents
  private val vocab: Array[String] = {
    val g = new SyntheticCorpus.Rng(0x70CAB)
    val seen = new java.util.HashSet[String]()
    val out = Array.newBuilder[String]
    while (seen.size < VocabSize) {
      val k = 2 + g.nextInt(8)
      val w = (0 until k).map { _ =>
        val i = java.util.Arrays.binarySearch(letterCdf, (g.nextLong() >>> 11) * (1.0 / (1L << 53)))
        letters(math.min(letters.length - 1, if (i >= 0) i else -i - 1))
      }.mkString
      if (seen.add(w)) out += w
    }
    out.result()
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  private def word(g: SyntheticCorpus.Rng): String = {
    val u = (g.nextLong() >>> 11) * (1.0 / (1L << 53))
    val k = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(VocabSize - 1, if (k >= 0) k else -k - 1))
  }

  private def words(g: SyntheticCorpus.Rng, n: Int): Array[String] =
    Array.fill(n)(word(g))

  private def sentences(w: Array[String], g: SyntheticCorpus.Rng): String = {
    val sb = new java.lang.StringBuilder(w.length * 7)
    var i = 0
    var left = 0
    while (i < w.length) {
      if (left == 0) {
        if (i > 0) sb.append(". ")
        left = 6 + g.nextInt(12)
        sb.append(w(i).capitalize)
      } else sb.append(' ').append(w(i))
      left -= 1
      i += 1
    }
    sb.append('.').toString
  }

  private val boilerplate: Array[String] = Array.tabulate(12) { b =>
    val g = new SyntheticCorpus.Rng(0xB011E4L + b)
    sentences(words(g, 28 + g.nextInt(14)), g)
  }

  // the duplicate structure (which doc copies which, lengths, edit
  // positions, boilerplate choice) is the same for every seed, so every
  // seed does the same dedup work; the seed picks the words
  private def mix(x: Long, s: Long = 0x5EED): Long = {
    var z = s ^ (x * 0xD1B54A32D192ED03L)
    z = (z ^ (z >>> 29)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 32)) * 0x94D049BB133111EBL
    z ^ (z >>> 29)
  }

  private def unit(x: Long): Double = (mix(x) >>> 11) * (1.0 / (1L << 53))

  /** 0 = plain, 1 = with boilerplate, 2 = exact copy, 3 = near copy. */
  def kind(id: Long): Int = {
    val u = unit(id * 4 + 1)
    if (id == 0) 0
    else if (u < ExactRate) 2
    else if (u < ExactRate + NearRate) 3
    else if (u < ExactRate + NearRate + BoilerRate) 1
    else 0
  }

  private def source(id: Long): Long = {
    var j = (mix(id * 4 + 2) >>> 1) % id
    while (kind(j) >= 2) j -= 1 // doc 0 is plain, so this stops
    j
  }

  private def original(id: Long): String = {
    val shape = new SyntheticCorpus.Rng(mix(id * 4 + 3))
    val g = new SyntheticCorpus.Rng(mix(id * 4 + 3, seed))
    val body = sentences(words(g, 70 + shape.nextInt(90)), shape)
    if (kind(id) == 1) {
      val b = boilerplate(shape.nextInt(boilerplate.length))
      if (shape.nextInt(2) == 0) b + "\n" + body else body + "\n" + b
    } else body
  }

  def text(id: Long): String = kind(id) match {
    case 2 => original(source(id))
    case 3 =>
      val shape = new SyntheticCorpus.Rng(mix(id * 4 + 4))
      val g = new SyntheticCorpus.Rng(mix(id * 4 + 4, seed))
      val w = original(source(id)).split(" ")
      val edits = math.max(1, w.length / 25)
      (0 until edits).foreach(_ => w(shape.nextInt(w.length)) = word(g))
      w.mkString(" ")
    case _ => original(id)
  }
}

object DedupText {
  // shares of documents planted as exact copies, near copies and with a
  // shared boilerplate paragraph; words drawn Zipf(ZipfS) from VocabSize
  val ExactRate = 0.04
  val NearRate = 0.06
  val BoilerRate = 0.25
  val VocabSize = 20000
  val ZipfS = 1.0

  /** Writes the documents table (doc_id, url, warc_ts, text, lang). */
  def write(spark: SparkSession, gen: DedupText, n: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n.toLong, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map { id =>
        val i: Long = id
        (i, s"https://docs.example.org/d$i",
          new java.sql.Timestamp(SyntheticCorpus.epochMs + i * 1000L),
          gen.text(i), "eng")
      })
      .toDF("doc_id", "url", "warc_ts", "text", "lang")
      .write.parquet(dir)
  }
}

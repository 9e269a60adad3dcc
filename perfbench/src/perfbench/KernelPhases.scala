package perfbench

import graft.engine.{Extractor, HtmlEngine, PdfEngine, Sniffer}
import graft.extract.{Blocks, Boilerplate, Links, TextAssembler}
import graft.gen.SyntheticCorpus
import graft.html.{Tokenizer, TreeBuilder}
import graft.model.{ExtractConfig, Outcome, PageRow}

/** Kernel phase times on a per-class stratified sample, on one thread:
  * the benchmark calls the kernel's public pieces in
  * `HtmlEngine.extractDecoded`'s order and times each call, and times
  * the whole `Extractor.extract` separately. Per-doc figures are
  * class means weighted by each class's share of the workload, so rare
  * classes are timed but count only as often as they occur. */
object KernelPhases {

  val phases: Vector[String] = Vector("engine.sniff", "html.decode", "html.tokenize",
    "html.tree", "extract.segment", "extract.classify", "extract.assemble",
    "extract.links", "pdf.extract")

  final class Acc {
    val ns = new Array[Double](phases.length)
    var extractNs = 0.0
    var nodes = 0.0
    var blocks = 0.0
    var kept = 0.0
    var pdfRows = 0.0
    var pdfOk = 0.0
    var rows = 0
  }

  /** One timed pass of the phases over `row`; adds into `a`. */
  private def phasesOf(row: PageRow, a: Acc): Unit = {
    val cfg = ExtractConfig()
    var t = System.nanoTime()
    def lap(k: Int): Unit = { val n = System.nanoTime(); a.ns(k) += n - t; t = n }
    val s = Sniffer.sniff(row.html)
    lap(0)
    // Extractor's dispatch: typed errors, prior-text rows and empty
    // payloads stop after the sniff
    if (s.error.nonEmpty || Extractor.hasPrior(row) || s.format.endsWith("unknown")) return
    if (s.format.endsWith("pdf")) {
      val r = PdfEngine.extractSniffed(row, s, cfg)
      lap(8)
      a.pdfRows += 1
      if (r.outcome == Outcome.Ok) a.pdfOk += 1
      return
    }
    if (s.bytes.length > HtmlEngine.maxHtmlBytes) return
    val (_, decoded) = Sniffer.decodeHtml(s.bytes)
    lap(1)
    val tokens = Tokenizer.tokenize(decoded)
    lap(2)
    val dom = TreeBuilder.build(tokens)
    lap(3)
    val blocks = Blocks.segment(dom)
    lap(4)
    val kept = Boilerplate.classify(blocks)
    lap(5)
    TextAssembler.assemble(dom.title, kept, cfg.detailedSpans)
    lap(6)
    Links.parseAbs(row.url).foreach { b =>
      val eff = Links.effectiveBase(dom, b)
      Links.refreshTarget(dom, eff)
      Links.canonicalOf(dom, eff)
      Links.metasOf(dom)
      Links.feedsOf(dom, eff)
      Links.fromDom(dom, eff)
    }
    lap(7)
    a.nodes += dom.nodes.length
    a.blocks += blocks.length
    a.kept += kept.length
  }

  /** Passes over the sample; each times the whole extract, then the phases. */
  val Reps = 3

  /** Runs `Reps` passes over the sample and returns the weighted
    * per-layer metrics. */
  def measure(sample: Map[String, Vector[Long]], weights: Map[String, Double],
      seed: Long): Map[String, Double] = {
    val rows = sample.map { case (c, is) => c -> is.map(SyntheticCorpus.row(_, seed)) }
    val acc = rows.map { case (c, _) => c -> new Acc }
    for (_ <- 0 until Reps; (c, rs) <- rows; r <- rs) {
      val a = acc(c)
      val t0 = System.nanoTime()
      Extractor.extract(r)
      a.extractNs += System.nanoTime() - t0
      phasesOf(r, a)
      a.rows += 1
    }
    val total = weights.filter { case (c, _) => acc.contains(c) }.values.sum
    def per(f: Acc => Double): Double = acc.map { case (c, a) =>
      weights(c) / total * f(a) / a.rows
    }.sum
    val us = phases.indices.map(k => s"${phases(k)}_us_per_doc" -> per(_.ns(k)) / 1e3).toMap
    val extractUs = per(_.extractNs) / 1e3
    val blocks = per(_.blocks)
    val pdf = per(_.pdfRows)
    us ++ Map(
      "engine.extract_us_per_doc" -> extractUs,
      "engine.other_us_per_doc" -> (extractUs - us.values.sum),
      "html.nodes_per_doc" -> per(_.nodes),
      "extract.kept_block_ratio" -> (if (blocks > 0) per(_.kept) / blocks else 0.0),
      "pdf.ok_ratio" -> (if (pdf > 0) per(_.pdfOk) / pdf else 0.0))
  }
}

package graft

import graft.engine.{Extractor, HtmlEngine, Sniffer}
import graft.extract.{Blocks, Boilerplate, TextAssembler}
import graft.gen.SyntheticCorpus
import graft.html.{Entities, Tokenizer, TreeBuilder, StartTag, TextRun, EndTag}
import graft.model.PageRow
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Unit tests for the scalar HTML kernel — per-operator, mirroring the
  * reference's unit discipline (test_pdfinfo.py stack abuse, malformed
  * operands; test_page_boxes.py repair rules). */
class KernelSpec extends AnyFunSuite {

  private def row(html: String): PageRow =
    PageRow("https://t.test/x", new java.sql.Timestamp(0L),
      html.getBytes(StandardCharsets.UTF_8), null, "eng")

  private def extractText(html: String): String = Extractor.extract(row(html)).text

  /** The page's effective base, derived as the kernel derives it. */
  private def baseOf(dom: graft.html.Dom, pageUrl: String) =
    graft.extract.Links.effectiveBase(dom,
      graft.extract.Links.parseAbs(pageUrl).get)

  // -- entities ---------------------------------------------------------

  test("entities: named, numeric, hex, legacy no-semi, unknown verbatim") {
    assert(Entities.decodeAll("&amp;&lt;&gt;") == "&<>")
    assert(Entities.decodeAll("&#233;&#xE9;") == "éé")
    assert(Entities.decodeAll("&amp x") == "& x") // legacy no-semicolon
    assert(Entities.decodeAll("&bogus; &nosuch") == "&bogus; &nosuch")
    assert(Entities.decodeAll("&#x80;") == "€") // C1 → windows-1252 remap
    assert(Entities.decodeAll("&#0;") == "�")
  }

  // -- tokenizer --------------------------------------------------------

  test("tokenizer: basic tags, attrs, duplicate attr keeps first") {
    val toks = Tokenizer.tokenize("""<p class="a" class="b" id=x>hi</p>""")
    val st = toks.collectFirst { case s: StartTag => s }.get
    assert(st.name == "p")
    assert(st.attr("class").contains("a"))
    assert(st.attr("id").contains("x"))
    assert(toks.exists { case TextRun("hi") => true; case _ => false })
    assert(toks.exists { case EndTag("p") => true; case _ => false })
  }

  test("tokenizer: raw text elements swallow markup until close tag") {
    val toks = Tokenizer.tokenize("<script>if (a < b) { x(); }</script><p>ok</p>")
    val raw = toks.collectFirst { case TextRun(t) if t.contains("a < b") => t }
    assert(raw.isDefined)
    assert(toks.exists { case StartTag("p", _, _) => true; case _ => false })
  }

  test("tokenizer: stray < is literal text; comments tolerated unterminated") {
    val toks = Tokenizer.tokenize("a < b <!-- never closed")
    assert(toks.collectFirst { case TextRun(t) => t }.get == "a < b ")
    val toks2 = Tokenizer.tokenize("x<!--c--!>y")
    assert(toks2.exists { case TextRun("y") => true; case _ => false })
  }

  test("tokenizer: character references decoded in text and attrs") {
    val toks = Tokenizer.tokenize("""<a href="?a=1&amp;b=2">A &amp; B</a>""")
    val st = toks.collectFirst { case s: StartTag => s }.get
    assert(st.attr("href").contains("?a=1&b=2"))
    assert(toks.exists { case TextRun("A & B") => true; case _ => false })
  }

  // -- tree builder -----------------------------------------------------

  test("treebuilder: implied end tags (p closed by div, li by li)") {
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      "<body><p>one<div>two</div><ul><li>a<li>b</ul></body>"))
    val ps = dom.nodes.filter(_.tag == "p")
    val lis = dom.nodes.filter(_.tag == "li")
    assert(ps.length == 1 && lis.length == 2)
    // both li at same depth (second li closed the first)
    assert(lis(0).depth == lis(1).depth)
  }

  test("treebuilder: ld+json captured verbatim, MIME trimmed case-blind") {
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      """<head><script type="application/ld+json">{"@type":"Article","a":1}</script>""" +
        """<script type=" Application/LD+JSON ">{"@type":"B"}</script>""" +
        """<script>var x = 1;</script>""" +
        """<script type="text/javascript">{"not":"ld"}</script></head>""" +
        """<body><p>hi</p></body>"""))
    assert(dom.ldjson == Seq("""{"@type":"Article","a":1}""", """{"@type":"B"}"""))
    // capture does not perturb the tree: all four script text nodes are
    // still DOM nodes (node counts feed the goldens)
    assert(dom.nodes.count(n => n.tag == "#text"
      && n.text.contains("{")) == 3)
    // empty ld+json body and a self-closing script capture nothing
    val dom2 = TreeBuilder.build(Tokenizer.tokenize(
      """<script type="application/ld+json"></script><p>x</p>"""))
    assert(dom2.ldjson.isEmpty)
  }

  test("treebuilder: unmatched end tag ignored; misnesting pops to match") {
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      "<div><b>x</div></b><p>y</p>"))
    assert(dom.nodes.exists(n => n.tag == "p"))
    // </nothing> crashes nothing
    val dom2 = TreeBuilder.build(Tokenizer.tokenize("</div></p>text"))
    assert(dom2.nodes.exists(n => n.tag == "#text" && n.text == "text"))
  }

  test("treebuilder: depth guard flattens past 128 and flags truncation") {
    val deep = "<div>" * 200 + "x" + "</div>" * 200
    val dom = TreeBuilder.build(Tokenizer.tokenize(deep))
    assert(dom.truncated)
    assert(dom.nodes.forall(_.depth <= TreeBuilder.maxDepth + 1))
  }

  test("treebuilder: visibility inheritance (style, hidden, script, head)") {
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      """<head><title>T</title></head><body><div style="display: none"><p>no</p></div><p hidden>no2</p><p>yes</p></body>"""))
    val texts = dom.nodes.filter(_.tag == "#text")
    assert(texts.filter(_.visible).map(_.text) == Seq("yes"))
    assert(dom.title == "T")
  }

  // -- assembly rules ---------------------------------------------------

  test("assembler: space-join except CJK-CJK (renderer.py:740-748 rule)") {
    assert(Blocks.joinWords(Vector("hello", "world")) == "hello world")
    assert(Blocks.joinWords(Vector("数据", "处理")) == "数据处理")
    assert(Blocks.joinWords(Vector("数据", "spark", "处理")) == "数据 spark 处理")
    assert(Blocks.joinWords(Vector("word", "数据")) == "word 数据")
  }

  test("assembler: NFKC normalization (hocr_parser.py:372-384 rule)") {
    assert(Blocks.nfkc("ﬁre") == "fire")
    assert(Blocks.nfkc("x²") == "x2")
    assert(extractText("<p>ﬁre ﬂow x² over forty characters of padding text</p>")
      .startsWith("fire flow x2"))
  }

  test("assembler: span offsets are exact character ranges") {
    val r = Extractor.extract(row(
      "<body><p>first paragraph with enough characters to be good</p>" +
        "<p>second paragraph also long enough to be kept here</p></body>"))
    assert(r.spans.length == 2)
    r.spans.foreach { s =>
      val sub = r.text.substring(s.start, s.end)
      assert(!sub.startsWith(" ") && !sub.endsWith(" "))
    }
    assert(r.text.substring(r.spans(1).start).startsWith("second"))
  }

  // -- boilerplate ------------------------------------------------------

  test("boilerplate: link-dense blocks dropped, chrome ancestry dropped") {
    val html =
      """<body><nav><p>this nav text is long enough to look good but is chrome</p></nav>
        |<p>real content paragraph with plenty of characters to qualify as good</p>
        |<div><a href="#">l1</a> <a href="#">l2</a> <a href="#">l3</a></div></body>""".stripMargin
    val r = Extractor.extract(row(html))
    assert(r.text.contains("real content"))
    assert(!r.text.contains("chrome"))
    assert(!r.text.contains("l1"))
  }

  test("boilerplate: heading kept only when followed by good block") {
    val kept = extractText(
      "<body><h2>Kept Heading</h2><p>a long enough following paragraph keeps the heading above</p></body>")
    assert(kept.contains("Kept Heading"))
    val dropped = extractText(
      "<body><h2>Lone Heading</h2><div><a href='#'>only links follow</a></div></body>")
    assert(!dropped.contains("Lone Heading"))
  }

  // -- sniffer ----------------------------------------------------------

  test("sniffer: gzip magic, pdf signature, charset precedence") {
    val gz = SyntheticCorpus.gzipCase(new SyntheticCorpus.Rng(1), 0)
    assert(Sniffer.sniff(gz).format == "gzip+html")
    assert(Sniffer.sniff("%PDF-1.4 junk".getBytes).format == "pdf")
    val bom = Array[Byte](0xff.toByte, 0xfe.toByte) ++
      "<p>x</p>".getBytes(StandardCharsets.UTF_16LE)
    assert(Sniffer.decodeHtml(bom)._1 == "utf-16le")
    val meta = """<meta charset="windows-1252"><p>café</p>"""
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val (cs, decoded) = Sniffer.decodeHtml(meta)
    assert(cs == "windows-1252" && decoded.contains("café"))
  }

  test("charset correction: mojibake re-decoded as cp1252 when strictly cleaner") {
    // declared utf-8, actual windows-1252 bytes — the confidence-gated
    // correction (get_orientation_correction analog): probe on damage,
    // accept only a strictly cleaner re-decode
    val mojibake =
      """<html><head><meta charset="utf-8"></head><body><p>café résumé tokens</p></body></html>"""
        .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    val (cs, text) = Sniffer.decodeHtml(mojibake)
    assert(cs == "utf-8->windows-1252")
    assert(text.contains("café résumé"))
    // clean utf-8 is never touched
    val clean = "<html><body><p>café ok</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    assert(Sniffer.decodeHtml(clean)._1 == "utf-8")
    assert(Sniffer.decodeHtml(clean)._2.contains("café"))
    // a BOM is an explicit declaration: never second-guessed, even damaged
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "x".getBytes(StandardCharsets.UTF_8) :+ 0xe9.toByte
    assert(Sniffer.decodeHtml(bom)._1 == "utf-8")
    // DENSE damage (random binary) is below confidence: no correction, so
    // the implausibility gates still see replacement chars, not letter soup
    val rng = new SyntheticCorpus.Rng(9)
    val binary = Array.fill(512)((rng.nextLong() & 0xff).toByte)
    assert(Sniffer.decodeHtml(binary)._1 == "utf-8")
  }

  test("sniffer: truncated gzip yields typed error outcome, not a throw") {
    val gz = SyntheticCorpus.gzipCase(new SyntheticCorpus.Rng(1), 1)
    val r = Extractor.extract(PageRow("u", new java.sql.Timestamp(0), gz, null, null))
    assert(r.outcome == "error:gzip_truncated")
  }

  test("kernel edge fixes: CJK blocks, headings, titles, comments, raw-text") {
    // CJK paragraph: one unsegmented 250-char "word" is normal prose,
    // not the minified-JS garbage the long-word gate targets
    val cjkPara = "数据处理管道提取文档内容分析" * 20 // 280 CJK chars, no spaces
    val cjkHtml = s"<html><body><p>$cjkPara</p></body></html>"
    assert(extractText(cjkHtml).contains("数据处理管道"), "CJK paragraph dropped")
    // chrome-rejected heading is NOT resurrected by promotion
    val logo = "<html><body><header><h1><a href=\"/\">SiteName</a></h1></header>" +
      "<p>a long good article paragraph with plenty of ordinary words " +
      "to clear the good threshold easily here</p></body></html>"
    val logoText = extractText(logo)
    assert(!logoText.contains("SiteName"), s"logo heading leaked: $logoText")
    assert(logoText.contains("long good article"))
    // self-closing <title/> must not swallow the body
    val selfTitle = "<html><head><title/></head><body><p>hello body words " +
      "enough to keep this block in the extracted output text</p></body></html>"
    assert(extractText(selfTitle).contains("hello body"), "title/ swallowed body")
    // a later <svg><title> must not concatenate into the page title
    val svg = "<html><head><title>Page</title></head><body>" +
      "<svg><title>Menu icon</title></svg><p>main body content words " +
      "enough to keep this paragraph</p></body></html>"
    val dom = TreeBuilder.build(Tokenizer.tokenize(svg))
    assert(dom.title == "Page", s"title corrupted: '${dom.title}'")
    assert(!extractText(svg).contains("Menu icon"))
    // abrupt comment close: <!--> is an EMPTY comment, not
    // swallow-to-EOF
    val abrupt = "<html><body><!--><p>content after the abrupt comment " +
      "close with enough words to be kept</p></body></html>"
    assert(extractText(abrupt).contains("content after"), "<!--> ate the doc")
    // raw-text close needs a name boundary: </styles> does not close
    // <style>
    val styles = "<html><body><style>.a{x}</styles>.b{y}</style>" +
      "<p>visible words after the style block with enough length to " +
      "be kept here</p></body></html>"
    val stText = extractText(styles)
    assert(!stText.contains(".b{y}"), s"style leaked: $stText")
    assert(stText.contains("visible words"))
  }

  test("kernel edge fixes: anchor cards, depth-cap pairs, pre newlines") {
    // block content inside <a>: the whole card is link text → link
    // density gate drops it
    val card = "<html><body><a href=\"/x\"><h3>Title</h3><p>teaser words " +
      "for the card that are long enough to pass length</p></a>" +
      "<p>real article body paragraph with plenty of ordinary words " +
      "to clear the threshold</p></body></html>"
    val cardText = extractText(card)
    assert(!cardText.contains("teaser words"), s"card leaked: $cardText")
    assert(cardText.contains("real article body"))
    // depth-capped sibling pairs must not unwind real ancestors: the
    // visible paragraph stays attached under body, not at the root
    val deep = new StringBuilder("<html><body>")
    (0 until 140).foreach(_ => deep.append("<div>"))
    (0 until 50).foreach(_ => deep.append("<div>x</div>"))
    (0 until 140).foreach(_ => deep.append("</div>"))
    deep.append("<p>tail paragraph with enough words to be kept in the " +
      "output easily</p></body></html>")
    val deepDom = TreeBuilder.build(Tokenizer.tokenize(deep.toString))
    assert(deepDom.truncated)
    // the tail paragraph's ancestry must still include body
    val pNode = deepDom.nodes.find(_.tag == "p")
    assert(pNode.nonEmpty)
    var anc = pNode.get.parent
    var sawBody = false
    while (anc >= 0) {
      if (deepDom.nodes(anc).tag == "body") sawBody = true
      anc = deepDom.nodes(anc).parent
    }
    assert(sawBody, "depth-cap end tags unwound the stack past body")
    // <pre> keeps line structure
    val pre = "<html><body><pre>def f():\n    return 1</pre>" +
      "<p>prose paragraph with enough ordinary words to keep the block " +
      "in the output</p></body></html>"
    val preText = extractText(pre)
    assert(preText.contains("def f():\nreturn 1") ||
      preText.contains("def f():\n return 1"),
      s"pre newline collapsed: ${preText.take(80)}")
  }

  test("sniffer: charset= outside a meta tag never hijacks decoding") {
    // 'charset=' in a URL or prose before (or without) the real meta tag
    // must not override the page charset (reviewed)
    val url = """<html><body><a href="/p?charset=gbk">x</a><p>café utf ok</p></body></html>"""
      .getBytes(StandardCharsets.UTF_8)
    assert(Sniffer.decodeHtml(url)._1 == "utf-8")
    assert(Sniffer.decodeHtml(url)._2.contains("café"))
    val prose = "<html><body><p>use charset=gbk they said — café</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    assert(Sniffer.decodeHtml(prose)._1 == "utf-8")
    // and the real meta declaration still wins when present
    val both = ("""<html><head><meta charset="windows-1252"></head>""" +
      """<body><a href="?charset=gbk">café</a></body></html>""")
      .getBytes(java.nio.charset.Charset.forName("windows-1252"))
    assert(Sniffer.decodeHtml(both)._1 == "windows-1252")
  }

  test("sniffer: nested gzip is depth-capped; gzip+empty takes the Null route") {
    // 5-deep nested gzip: the bomb-guard stops at depth 3 with a typed
    // error instead of doing unbounded decompression work on one row
    var payload = "<html><body><p>the quick brown fox</p></body></html>"
      .getBytes(StandardCharsets.UTF_8)
    def gz(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    (0 until 5).foreach(_ => payload = gz(payload))
    val r = Extractor.extract(PageRow("u", new java.sql.Timestamp(0),
      payload, null, null))
    assert(r.outcome == "error:gzip_nested", r.outcome)
    // depth ≤ cap still extracts
    var ok = ("<html><body><p>the quick brown fox jumps over the lazy " +
      "dog again and again while the cat watches from the warm windowsill" +
      "</p></body></html>").getBytes(StandardCharsets.UTF_8)
    (0 until 2).foreach(_ => ok = gz(ok))
    assert(Extractor.extract(PageRow("u2", new java.sql.Timestamp(0),
      ok, null, null)).outcome == "ok")
    // gzip-wrapped EMPTY payload routes like a bare empty payload:
    // Null engine + skipped:empty, not the HTML engine
    val empty = Extractor.extract(PageRow("u3", new java.sql.Timestamp(0),
      gz(Array.emptyByteArray), null, null))
    assert(empty.outcome == "skipped:empty" &&
      empty.engine == graft.model.EngineTags.Null &&
      empty.format == "gzip+unknown")
  }

  // -- faults: never throw ---------------------------------------------

  test("kernel: pathological inputs yield outcome rows, never exceptions") {
    val cases = Seq[Array[Byte]](
      Array.emptyByteArray,
      Array.fill(512)(0x00.toByte),
      "<".getBytes, "<!".getBytes, "<a b=".getBytes,
      ("<div " + "x" * 100000).getBytes,
      SyntheticCorpus.fault(new SyntheticCorpus.Rng(7), 2),
      "%PDF-1.4 then garbage".getBytes)
    cases.foreach { b =>
      val r = Extractor.extract(PageRow("u", new java.sql.Timestamp(0), b, null, null))
      assert(r.outcome.nonEmpty)
    }
  }

  // -- corpus determinism ----------------------------------------------

  test("corpus: row generation is a pure function of (seed, i)") {
    (0L until 100L).foreach { i =>
      val a = SyntheticCorpus.row(i)
      val b = SyntheticCorpus.row(i)
      assert(a.url == b.url && java.util.Arrays.equals(a.html, b.html))
    }
  }

  test("kernel: extraction is deterministic (same row → same bytes)") {
    (0L until 60L).foreach { i =>
      val r1 = Extractor.extract(SyntheticCorpus.row(i))
      val r2 = Extractor.extract(SyntheticCorpus.row(i))
      assert(r1.text == r2.text && r1.spans == r2.spans &&
        r1.outcome == r2.outcome)
    }
  }

  test("validation: oversized html rejected; redirect shells skipped") {
    val big = SyntheticCorpus.tooLargeHtml
    val r = Extractor.extract(PageRow("u", new java.sql.Timestamp(0), big, null, null))
    assert(r.outcome == "rejected:too_large" && r.text.isEmpty)
    val redir = SyntheticCorpus.redirect(new SyntheticCorpus.Rng(2))
    val r2 = Extractor.extract(row(redir))
    assert(r2.outcome == "skipped:redirect")
    // a meta-refresh page WITH substantial content is NOT a redirect shell
    val content = ("<html><head><meta http-equiv=\"refresh\" content=\"30\"></head>" +
      "<body><p>" + ("real content words here with plenty of text " * 4) + "</p></body></html>")
    assert(Extractor.extract(row(content)).outcome == "ok")
  }

  test("blocks: inline markup inside a word does not split it") {
    // rendered text has no space in caf<b>é</b> or <a>Wiki</a>pedia
    val p = "data pipeline extract engine document crawl index stream batch "
    val t1 = extractText(s"<html><body><p>${p}caf<b>é</b> token</p></body></html>")
    assert(t1.contains("café token"), t1)
    val t2 = extractText(s"<html><body><p>$p<a href='/w'>Wiki</a>pedia rocks</p></body></html>")
    assert(t2.contains("Wikipedia rocks"), t2)
    // <br> IS a word boundary (renders as a line break)
    val t3 = extractText(s"<html><body><p>${p}one<br>two</p></body></html>")
    assert(t3.contains("one two"), t3)
    // …but a br inside a HIDDEN subtree renders nothing and must not
    // split the visible word spanning the hidden span
    val t4 = extractText(s"<html><body><p>${p}foo<span style='display:none'>x<br>y</span>bar</p></body></html>")
    assert(t4.contains("foobar"), t4)
  }

  test("blocks: link chars attributed per-char across a word spanning a link edge") {
    val toks = Tokenizer.tokenize(
      "<html><body><p><a href='/'>Wiki</a>pedia</p></body></html>")
    val dom = TreeBuilder.build(toks)
    val b = Blocks.segment(dom).head
    assert(b.text == "Wikipedia" && b.nWords == 1)
    assert(b.chars == 9)
    assert(b.linkChars == 4) // only "Wiki" came from inside the <a>
  }

  test("bidi: first-strong direction detection (renderer.py:30-42 rule)") {
    assert(TextAssembler.firstStrongDir("hello עברית") == "ltr")
    assert(TextAssembler.firstStrongDir("עברית hello") == "rtl")
    assert(TextAssembler.firstStrongDir("«123» עברית") == "rtl") // neutrals skipped
    assert(TextAssembler.firstStrongDir("«123» abc") == "ltr")
    assert(TextAssembler.firstStrongDir("نص عربي") == "rtl")
    assert(TextAssembler.firstStrongDir("12345 …") == "ltr") // no strong char
    assert(TextAssembler.firstStrongDir("") == "ltr")
  }

  test("modes: prior-text matrix (options.py:37-55 x pipeline.py:352-372)") {
    import graft.model.{ExtractConfig, ProcessingMode}
    val prior = PageRow("https://t.test/prior", new java.sql.Timestamp(0L),
      "<html><body><p>the quick brown fox jumps over the lazy dog again</p></body></html>"
        .getBytes(StandardCharsets.UTF_8),
      "UPSTREAM prior text here", "eng")
    val noPrior = prior.copy(url = "https://t.test/noprior", text = null)
    // default: prior text → typed reject, no extraction
    val d = Extractor.extract(prior, ExtractConfig(mode = ProcessingMode.Default))
    assert(d.outcome == "rejected:prior_text" && d.text == "")
    // skip: prior text passes through untouched
    val s = Extractor.extract(prior, ExtractConfig(mode = ProcessingMode.Skip))
    assert(s.outcome == "skipped:prior_text")
    assert(s.text == "UPSTREAM prior text here")
    assert(s.engine == graft.model.EngineTags.Prior)
    // redo: prior discarded, extraction re-runs with detailed spans
    val r = Extractor.extract(prior, ExtractConfig(mode = ProcessingMode.Redo,
      detailedSpans = false))
    assert(r.outcome == "ok" && r.text.contains("quick brown fox"))
    assert(r.spans.nonEmpty) // redo forces detailed analysis
    // force: extraction runs; rows without prior behave identically
    val f = Extractor.extract(prior, ExtractConfig(mode = ProcessingMode.Force))
    assert(f.outcome == "ok" && f.text == r.text)
    // strip: machine text layer removed in place, NO re-extraction
    // (reference --mode strip, _options.py:55)
    val st = Extractor.extract(prior, ExtractConfig(mode = ProcessingMode.Strip))
    assert(st.outcome == "stripped:prior_text" && st.text == "")
    assert(st.engine == graft.model.EngineTags.Prior)
    assert(st.format == "html") // triage facts still recorded
    val stNp = Extractor.extract(noPrior, ExtractConfig(mode = ProcessingMode.Strip))
    assert(stNp.outcome == "skipped:nothing_to_strip" && stNp.text == "")
    assert(stNp.engine == graft.model.EngineTags.Null)
    ProcessingMode.all.filterNot(_ == ProcessingMode.Strip).foreach { m =>
      val e = Extractor.extract(noPrior, ExtractConfig(mode = m))
      assert(e.outcome == "ok" && e.text == r.text, s"mode $m prior-less drift")
    }
    // force overrides the redirect cheap-probe skip
    val redirect = PageRow("https://t.test/r", new java.sql.Timestamp(0L),
      SyntheticCorpus.redirect(new SyntheticCorpus.Rng(7))
        .getBytes(StandardCharsets.UTF_8), null, "eng")
    assert(Extractor.extract(redirect).outcome == "skipped:redirect")
    assert(Extractor.extract(redirect,
      ExtractConfig(mode = ProcessingMode.Force)).outcome == "ok")
  }

  test("lazy spans: detailedSpans=false skips span bookkeeping, text identical") {
    import graft.model.ExtractConfig
    val r = row(SyntheticCorpus.article(new SyntheticCorpus.Rng(3)))
    val full = Extractor.extract(r, ExtractConfig(detailedSpans = true))
    val lazyR = Extractor.extract(r, ExtractConfig(detailedSpans = false))
    assert(full.spans.nonEmpty && lazyR.spans.isEmpty)
    assert(full.text == lazyR.text && full.outcome == lazyR.outcome)
  }

  test("lang: valid hint trusted, invalid hint falls back to prediction") {
    import graft.engine.LangResolve
    assert(LangResolve.resolve("deu", "the quick fox") == "deu")
    assert(LangResolve.resolve("", "the quick fox and the lazy dog in the yard") == "eng")
    assert(LangResolve.resolve(null, "数据处理管道提取文档内容分析系统") == "zho")
    assert(LangResolve.resolve("x1", "") == "und") // malformed hint
  }

  test("quality gate: implausible blocks (mega-words, symbol soup) dropped") {
    val g = SyntheticCorpus.garbage(new SyntheticCorpus.Rng(9))
    val r = Extractor.extract(row(g))
    assert(r.outcome == "ok")
    assert(r.spans.length == 1) // only the real paragraph survives
    assert(!r.text.contains("=#/"))
  }

  test("cross-engine agreement: classifier output vs naive full-text engine") {
    // the reference requires two independent renderers to agree
    // (test_hocrtransform.py:102-125 test_fpdf2_matches_sandwich,
    // word-set Jaccard > 0.99); our analog: the classifier's kept words
    // must be a subset of a naive strip-all-tags extraction, retaining a
    // substantial share of it on article fixtures
    (0L until 240L).filter(i => SyntheticCorpus.classOf(i) == "article")
      .foreach { i =>
        val p = SyntheticCorpus.row(i)
        val s = Sniffer.sniff(p.html)
        val (_, decoded) = Sniffer.decodeHtml(s.bytes)
        val dom = graft.html.TreeBuilder.build(Tokenizer.tokenize(decoded))
        val naive = Blocks.segment(dom)
          .flatMap(b => TextAssembler.splitWords(b.text)).toSet
        val kept = Extractor.extract(p)
        val titleWords = TextAssembler.splitWords(Blocks.nfkc(dom.title)).toSet
        val keptWords = TextAssembler.splitWords(kept.text).toSet -- titleWords
        assert(keptWords.subsetOf(naive), s"novel words invented for ${p.url}")
        assert(keptWords.size.toDouble / naive.size > 0.4,
          s"classifier kept too little for ${p.url}")
      }
  }

  // -- eighth-review fidelity fixes ------------------------------------

  test("boundaries: empty box elements, </br>, widgets flush words") {
    val filler = " plus plenty of additional filler words so the block " +
      "clears the forty character good threshold easily"
    val t1 = extractText("<html><body><div>End of intro<hr>Next section" +
      s"$filler</div></body></html>")
    assert(!t1.contains("introNext") && t1.contains("intro"), t1)
    val t2 = extractText(s"<html><body><div>foo<p></p>bar$filler" +
      "</div></body></html>")
    assert(!t2.contains("foobar"), t2)
    val t3 = extractText("<html><body><ul><li>alphaword</li>" +
      s"<li>betaword</li><li>extra$filler</li></ul></body></html>")
    assert(!t3.contains("alphawordbetaword"), t3)
    // WHATWG: </br> acts as a <br> start tag
    val t4 = extractText(s"<html><body><div>foo</br>bar$filler" +
      "</div></body></html>")
    assert(!t4.contains("foobar"), t4)
    // a widget box separates words even though its content is dropped
    val t5 = extractText("<html><body><div>foo<textarea>draftsource" +
      s"</textarea>bar$filler</div></body></html>")
    assert(!t5.contains("draftsource") && !t5.contains("foobar"), t5)
  }

  test("textarea: form-widget content is not page text") {
    val t = extractText("<html><body><p>real article content with many " +
      "interesting words</p><textarea>wikitext article draft source " +
      "lives here</textarea></body></html>")
    assert(!t.contains("wikitext"), t)
  }

  test("self-closing flag: ignored for HTML elements, honored in svg") {
    // <div/> must NOT act as void — if it did, the first </div> would
    // close the hidden OUTER div and everything between the two </div>s
    // ('stillhidden') would leak out as visible text
    val t = extractText("<html><body><div style=\"display:none\">secret" +
      "<div/>leakme</div>stillhidden</div><p>after words carry the " +
      "visible content of this page well past the forty character " +
      "threshold</p></body></html>")
    assert(!t.contains("secret") && !t.contains("leakme") &&
      !t.contains("stillhidden") && t.contains("after"), t)
    // foreign content: hundreds of self-closed <path/>s must not pile
    // onto the stack and trip the depth cap
    val svg = "<svg>" + "<path/>" * 300 + "</svg>"
    val r = Extractor.extract(row(s"<html><body>$svg<p>icon sprite page " +
      "content with several words and clearly enough characters to " +
      "classify as good</p></body></html>"))
    assert(!r.truncated && r.text.contains("sprite"), r.text)
  }

  test("svg title is never the page title") {
    val r = Extractor.extract(row("<html><body><svg><title>Close icon" +
      "</title></svg><p>body content paragraph with words</p>" +
      "</body></html>"))
    assert(!r.text.contains("Close icon"), r.text)
  }

  test("implied end tags fire through open inline formatting elements") {
    // legacy unclosed markup: each <p><font> pair must not nest — the
    // open p closes through the font (button-scope search, not
    // head-only), keeping depth flat and the document untruncated
    val legacy = (1 to 80).map(i =>
      s"<p><font size=2>paragraph number $i carries enough prose " +
        "characters to classify as good content").mkString
    val r = Extractor.extract(row(s"<html><body>$legacy</body></html>"))
    assert(!r.truncated, "depth cap tripped on flat legacy markup")
    assert(r.text.contains("paragraph number 80"), r.text.takeRight(120))
    // table rows through open inline elements
    val t = extractText("<html><body><table><tr><td>cellone<b>bold" +
      "<tr><td>celltwo content words here and plenty more filler " +
      "words to clear the keep threshold</table></body></html>")
    assert(!t.contains("boldcelltwo"), t)
  }

  test("pre: the newline after the start tag is dropped") {
    val t = extractText("<html><body><p>intro paragraph has words</p>" +
      "<pre>\ncode line one\ncode line two</pre></body></html>")
    assert(!t.contains("\n\n\n"), t.replace("\n", "\\n"))
    assert(t.contains("code line one\ncode line two"), t)
  }

  test("pre: newline kept when NOT directly after the start tag") {
    // WHATWG drops only the newline immediately after the <pre> start
    // tag; here the first text node is inside a <span>, so its leading
    // newline is real content (the pre renders a leading blank line)
    val t = extractText("<html><body><p>intro paragraph has words</p>" +
      "<pre><span>\ncode line one</span>\ncode line two</pre></body></html>")
    assert(t.contains("\n\n\ncode line one"), t.replace("\n", "\\n"))
    assert(t.contains("code line one\ncode line two"), t)
  }

  test("pre: newline kept when a comment token intervenes") {
    // WHATWG's rule is TOKEN-level: only a U+000A character token
    // IMMEDIATELY following the <pre> start tag is ignored. A comment
    // token in between builds no node but still cancels the strip —
    // browsers render the leading blank line
    val t = extractText("<html><body><p>intro paragraph has words</p>" +
      "<pre><!--lang=py-->\ncode line one\ncode line two</pre>" +
      "</body></html>")
    assert(t.contains("\n\n\ncode line one"), t.replace("\n", "\\n"))
  }

  test("stray </p> inserts a block boundary (WHATWG implied p)") {
    // '</p>' with no open p acts as '<p></p>' in browsers — a block
    // boundary; ignoring it would glue 'before'+'after' into one word
    val t = extractText("<html><body>lead words before</p>after the " +
      "break more content words here to clear thresholds well enough" +
      "</body></html>")
    assert(!t.contains("beforeafter"), t.take(120))
  }

  test("entities: full digit consumption and HTML 4.01 math names") {
    import graft.html.Entities
    // over-long numeric reference: ALL digits consumed, single U+FFFD,
    // no leftover digits leaking into the text
    assert(Entities.decodeAt("#99999999999;x", 0) == (("�", 13)))
    assert(Entities.decodeAt("#x110000;", 0) == (("�", 9)))
    // HTML 4.01 math/arrow names present per the table's contract
    assert(Entities.decodeAt("isin;", 0) == (("∈", 5)))
    assert(Entities.decodeAt("sum;", 0) == (("∑", 4)))
    assert(Entities.decodeAt("rArr;", 0) == (("⇒", 5)))
    assert(Entities.decodeAt("weierp;", 0) == (("℘", 7)))
  }

  test("hidden style detection survives embedded whitespace") {
    val t = extractText("<html><body><div style=\"display:\n\tnone\">" +
      "boilerhidden</div><p>kept paragraph with content words well " +
      "past the forty character good threshold</p></body></html>")
    assert(!t.contains("boilerhidden") && t.contains("kept"), t)
  }

  // -- outlink resolution (extract/Links.scala) -------------------------

  test("links: RFC 3986 resolution cases against a deep base") {
    import graft.extract.Links
    val b = Links.parseAbs("https://ex.test/a/b/c?base=1#frag").get
    assert(b == Links.Base("https", "ex.test", "/a/b/c", "?base=1"))
    def r(h: String) = Links.resolve(b, h)
    assert(r("g") == Some("https://ex.test/a/b/g"))
    assert(r("./g") == Some("https://ex.test/a/b/g"))
    assert(r("g/") == Some("https://ex.test/a/b/g/"))
    assert(r("/g") == Some("https://ex.test/g"))
    assert(r("//other.test/x") == Some("https://other.test/x"))
    assert(r("?y=2") == Some("https://ex.test/a/b/c?y=2"))
    assert(r("g?y=2#s") == Some("https://ex.test/a/b/g?y=2"))
    assert(r("..") == Some("https://ex.test/a/"))
    assert(r("../") == Some("https://ex.test/a/"))
    assert(r("../g") == Some("https://ex.test/a/g"))
    assert(r("../../g") == Some("https://ex.test/g"))
    assert(r("../../../g") == Some("https://ex.test/g")) // excess .. clamped
    assert(r("a/./b/../c") == Some("https://ex.test/a/b/a/c"))
    assert(r("http://plain.test") == Some("http://plain.test/"))
    assert(r("HTTPS://UP.test/K#f") == Some("https://UP.test/K")) // scheme lowered, rest kept
    assert(r("\n  g\t ") == Some("https://ex.test/a/b/g")) // WHATWG strip
    assert(r("#top").isEmpty && r("").isEmpty) // same-document, not edges
    assert(r("mailto:a@b.test").isEmpty && r("javascript:void(0)").isEmpty)
    assert(r("data:text/plain,x").isEmpty)
  }

  test("links: sibling outlinks hit crawled urls — frontier anti-join has work") {
    // the crawl_frontier query's seen-set anti-join is only exercised if
    // some resolved outlink equals some corpus page url; the article
    // template's doc-relative `p<K>` sibling reference guarantees that
    val rows = (0L until 600L).map(SyntheticCorpus.row(_))
    val urls = rows.map(_.url).toSet
    val hits = rows.iterator
      .flatMap(r => Extractor.extract(r).links.map(_.resolved))
      .count(urls.contains)
    assert(hits > 0, "no outlink resolves to a crawled url — frontier fixture broken")
  }

  test("links: fromDom honors first base, visibility, chrome ancestry") {
    import graft.extract.Links
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      """<html><head><base href="/moved/dir/"><base href="/ignored/"></head>
<body><nav><a href="n1">nav link</a></nav>
<p><a href="c1">content</a> <a>no href</a> <a href="#x">frag</a></p>
<div style="display:none"><a href="hidden">gone</a></div>
</body></html>"""))
    val ls = Links.fromDom(dom, baseOf(dom, "https://h.test/orig/page"))
    assert(ls.map(_.resolved) == Vector(
      "https://h.test/moved/dir/n1", "https://h.test/moved/dir/c1"))
    assert(ls.map(_.idx) == Vector(0, 1)) // dense document order
    assert(ls.map(_.chrome) == Vector(true, false))
    assert(ls.map(_.text) == Vector("nav link", "content"))
    // non-http page url → no base, so the kernel emits no links
    assert(Extractor.extract(PageRow("ftp://h.test/x", new java.sql.Timestamp(0L),
      """<p><a href="http://h.test/y">y</a></p>""".getBytes(StandardCharsets.UTF_8),
      null, "eng")).links.isEmpty)
  }

  test("chrome: Link.chrome and Block.inChrome agree inside and outside nav") {
    import graft.extract.Links
    val base = Links.parseAbs("https://h.test/").get
    Seq("<nav>" -> true, "<div>" -> false).foreach { case (open, chrome) =>
      val close = open.replace("<", "</")
      val dom = TreeBuilder.build(Tokenizer.tokenize(
        s"""<html><body>$open<p><a href="/x">menu item</a></p>$close</body></html>"""))
      assert(Links.fromDom(dom, base).map(_.chrome) == Vector(chrome), open)
      assert(Blocks.segment(dom).map(_.inChrome) == Vector(chrome), open)
    }
  }

  test("links: meta-refresh target and rel=canonical resolution") {
    import graft.extract.Links
    def dom(html: String) = TreeBuilder.build(Tokenizer.tokenize(html))
    val page = "https://h.test/dir/page"
    def refresh(html: String) = {
      val d = dom(html); Links.refreshTarget(d, baseOf(d, page))
    }
    def canonical(html: String) = {
      val d = dom(html); Links.canonicalOf(d, baseOf(d, page))
    }
    // quoted target, comma separator, case-insensitive URL keyword
    assert(refresh(
      """<meta http-equiv="Refresh" content="5, URL='/new'">""")
      == "https://h.test/new")
    // relative target resolves against <base href>
    assert(refresh(
      """<head><base href="/moved/"><meta http-equiv="refresh" content="0; url=next"></head>""")
      == "https://h.test/moved/next")
    // clause-less refresh (reload-self): no edge
    assert(refresh(
      """<meta http-equiv="refresh" content="30">""") == "")
    // WHATWG branch coverage: bare target without url= (including one
    // where the separator is whitespace alone), an unterminated quote
    // running to the end, and a remainder that only LOOKS like url=
    assert(refresh(
      """<meta http-equiv="refresh" content="0; /next">""")
      == "https://h.test/next")
    assert(refresh(
      """<meta http-equiv="refresh" content="1 https://x.test/">""")
      == "https://x.test/")
    assert(refresh(
      """<meta http-equiv="refresh" content="0; url='x">""")
      == "https://h.test/dir/x")
    assert(refresh(
      """<meta http-equiv="refresh" content="0; uri=/x">""")
      == "https://h.test/dir/uri=/x")
    // no time value at all: invalid declaration, no edge
    assert(refresh(
      """<meta http-equiv="refresh" content="url=/x">""") == "")
    // rel is a token LIST, case-insensitive; first canonical wins
    assert(canonical(
      """<link rel="alternate Canonical" href="p7"><link rel="canonical" href="p9">""")
      == "https://h.test/dir/p7")
    assert(canonical("""<link rel="stylesheet" href="s.css">""") == "")
    // non-navigable canonical target → ''
    assert(canonical(
      """<link rel="canonical" href="mailto:x@y">""") == "")
    // rel is split on ASCII whitespace incl. newline (wrapped attribute)
    assert(canonical(
      "<link rel=\"alternate\ncanonical\" href=\"p7\">")
      == "https://h.test/dir/p7")
    // a canonical inside an explicit <body> is user-content injection —
    // ignored; the head one still wins
    assert(canonical(
      """<body><p><link rel="canonical" href="/hijack"></p></body>""") == "")
    assert(canonical(
      """<head><link rel="canonical" href="/real"></head><body><link rel="canonical" href="/hijack"></body>""")
      == "https://h.test/real")
  }

  test("links: head meta capture — key fold, property, body rejection") {
    import graft.extract.Links
    import graft.model.MetaTag
    def dom(html: String) = TreeBuilder.build(Tokenizer.tokenize(html))
    // name trimmed + case-folded; property is the OpenGraph fallback;
    // content stays VERBATIM (padding preserved); document order kept
    assert(Links.metasOf(dom(
      """<head><meta name=" Description " content=" Padded. ">
<meta property="og:Title" content="T"></head>""")) ==
      Vector(MetaTag("description", " Padded. "), MetaTag("og:title", "T")))
    // name wins over property on the same element — but an
    // empty/whitespace name must NOT mask a usable property
    assert(Links.metasOf(dom(
      """<meta name="a" property="og:a" content="c">""")) ==
      Vector(MetaTag("a", "c")))
    assert(Links.metasOf(dom(
      """<meta name="" property="og:title" content="X">""")) ==
      Vector(MetaTag("og:title", "X")))
    // negatives: content-less, empty/whitespace name, charset pragma,
    // http-equiv pragma (refresh rides as ExtractResult.redirect)
    assert(Links.metasOf(dom(
      """<meta name="robots"><meta name="  " content="x">
<meta charset="utf-8"><meta http-equiv="refresh" content="0; url=/n">"""))
      .isEmpty)
    // a meta inside an explicit <body> is user-content injection —
    // rejected, like body canonicals; the head one survives
    assert(Links.metasOf(dom(
      """<head><meta name="k" content="real"></head><body><meta name="k" content="spoof"></body>""")) ==
      Vector(MetaTag("k", "real")))
    // head-less documents keep top-level metas (no synthesized body)
    assert(Links.metasOf(dom("""<meta name="k" content="v"><p>t</p>""")) ==
      Vector(MetaTag("k", "v")))
  }

  test("links: feed autodiscovery — MIME fold, negatives, resolution") {
    import graft.extract.Links
    def feeds(html: String) = {
      val dom = TreeBuilder.build(Tokenizer.tokenize(html))
      Links.feedsOf(dom, Links.parseAbs("https://h.test/dir/page").get)
    }
    // relative href resolves; padded/odd-case MIME matches; doc order
    assert(feeds(
      """<head><link rel="alternate" type="application/rss+xml" href="feed.xml">
<link rel="ALTERNATE" type=" Application/Atom+XML " href="/atom.xml"></head>""") ==
      Vector("https://h.test/dir/feed.xml", "https://h.test/atom.xml"))
    // negatives: text/html alternate, type-less alternate, stylesheet,
    // non-navigable target
    assert(feeds(
      """<link rel="alternate" type="text/html" href="/mobile">
<link rel="alternate" href="/untyped">
<link rel="stylesheet" type="application/rss+xml" href="/s.css">
<link rel="alternate" type="application/rss+xml" href="mailto:x@y">""")
      .isEmpty)
    // a feed link inside an explicit <body> is user-content injection
    assert(feeds(
      """<head><link rel="alternate" type="application/atom+xml" href="/real.xml"></head>
<body><link rel="alternate" type="application/rss+xml" href="/spoof.xml"></body>""") ==
      Vector("https://h.test/real.xml"))
  }

  test("links: anchor text — inline concat, hidden child, nesting, cap") {
    import graft.extract.Links
    val dom = TreeBuilder.build(Tokenizer.tokenize(
      """<html><body>
<p><a href="a">foo<b>bar</b>  baz
qux</a></p>
<p><a href="b"><span style="display:none">secret</span>shown</a></p>
<p><a href="c"><img src="x.png"></a></p>
</body></html>"""))
    val ls = Links.fromDom(dom, baseOf(dom, "https://h.test/"))
    // inline children concat WITHOUT injected space; whitespace runs
    // (incl newline) collapse; hidden subtree text excluded; image-only
    // anchor keeps ''
    assert(ls.map(_.text) == Vector("foobar baz qux", "shown", ""))
    // 256-code-point cap, trailing cut trimmed
    val long = ("word " * 100).trim
    assert(Links.collapseAnchor(long).codePointCount(0,
      Links.collapseAnchor(long).length) <= 256)
    assert(!Links.collapseAnchor(long).endsWith(" "))
    assert(Links.collapseAnchor("  a  b\tc  ") == "a b c")
  }

  // -- structured projections (outline + table view) ---------------------

  test("headings: kept-block outline with hN levels; chrome outline excluded") {
    val pad = "filler words enough to pass the density classifier here"
    val r = Extractor.extract(row(
      s"""<body><article><h1>Main Title</h1><p>$pad $pad</p>
<h3>Sub Point</h3><p>$pad $pad</p></article>
<nav><h2>Menu</h2><a href="/a">one</a></nav></body>"""))
    assert(r.headings.map(h => (h.level, h.text)) ==
      Seq((1, "Main Title"), (3, "Sub Point")))
  }

  test("cells: element-exact grid — empty cells hold their column, th flags") {
    val r = Extractor.extract(row(
      """<body><table>
<thead><tr><th>A</th><th>B</th><th></th></tr></thead>
<tbody><tr><td>a1</td><td></td><td>c1</td></tr></tbody>
</table></body>"""))
    assert(r.cells.map(c => (c.tbl, c.row, c.col, c.header, c.text)) == Seq(
      (0, 0, 0, true, "A"), (0, 0, 1, true, "B"), (0, 0, 2, true, ""),
      (0, 1, 0, false, "a1"), (0, 1, 1, false, ""), (0, 1, 2, false, "c1")))
  }

  test("cells: nested table splits outer text and owns its own ordinals") {
    val r = Extractor.extract(row(
      """<body><table><tr>
<td>before <table><tr><td>inner</td></tr></table> after</td>
<td>next</td></tr></table></body>"""))
    val byTbl = r.cells.groupBy(_.tbl)
    // outer table: split outer-cell text re-joined; inner table separate
    assert(byTbl(0).map(c => (c.row, c.col, c.text)) ==
      Seq((0, 0, "before after"), (0, 1, "next")))
    assert(byTbl(1).map(c => (c.row, c.col, c.text)) == Seq((0, 0, "inner")))
  }

  test("cells: nested block content joins its cell; hidden and orphan cells omitted") {
    val pad = "filler words enough to pass the density classifier here"
    val r = Extractor.extract(row(
      s"""<body><table><tr><td><p>para one</p><ul><li>item</li></ul></td></tr></table>
<table style="display:none"><tr><td>ghost</td></tr></table>
<p><td>orphan stray cell $pad $pad</td></p></body>"""))
    assert(r.cells.map(c => (c.tbl, c.row, c.col, c.text)) ==
      Seq((0, 0, 0, "para one item")))
    // the orphan td's text still flows through the TEXT channel
    assert(r.text.contains("orphan") && !r.text.contains("ghost"))
  }

  test("cells: colspan advances the grid cursor, rowspan blocks columns below") {
    val r = Extractor.extract(row(
      """<body><table>
<tr><th colspan=2>Name</th><th>Age</th></tr>
<tr><td rowspan="2">a</td><td>b</td><td>30</td></tr>
<tr><td>c</td><td>31</td></tr>
<tr><td>d</td><td>e</td><td>32</td></tr>
</table></body>"""))
    assert(r.cells.map(c => (c.row, c.col, c.header, c.text)) == Seq(
      (0, 0, true, "Name"), (0, 2, true, "Age"),
      (1, 0, false, "a"), (1, 1, false, "b"), (1, 2, false, "30"),
      // row 2: col 0 still occupied by a's rowspan
      (2, 1, false, "c"), (2, 2, false, "31"),
      // row 3: the rowspan expired — col 0 is free again
      (3, 0, false, "d"), (3, 1, false, "e"), (3, 2, false, "32")))
    // clamp rules: invalid / 0 spans fall back to 1
    val r2 = Extractor.extract(row(
      """<body><table><tr><td colspan="x">p</td><td rowspan=0>q</td></tr>
<tr><td>u</td><td>v</td></tr></table></body>"""))
    assert(r2.cells.map(c => (c.row, c.col, c.text)) == Seq(
      (0, 0, "p"), (0, 1, "q"), (1, 0, "u"), (1, 1, "v")))
  }

  test("cells: tr-less soup rows group by direct parent; sibling tables distinct") {
    val r = Extractor.extract(row(
      """<body><table><td>x</td><td>y</td></table><table><tr><td>z</td></tr></table></body>"""))
    val byTbl = r.cells.groupBy(_.tbl)
    assert(byTbl(0).map(c => (c.row, c.col, c.text)).sorted ==
      Seq((0, 0, "x"), (0, 1, "y")))
    assert(byTbl(1).map(c => (c.row, c.col, c.text)) == Seq((0, 0, "z")))
  }
}

package graft.engine

import graft.model._
import graft.html.{Tokenizer, TreeBuilder}
import graft.extract.{Blocks, Boilerplate, TextAssembler}
import graft.pdf.{ContentStream, CosDict, CosName, CosArr, CosStream, Cos, CosBool, CosNull, CosNum, PdfDoc, Glyphs, FontInfo}
import java.nio.charset.{Charset, StandardCharsets, CodingErrorAction}

/** Format/charset triage — analog of the reference's `triage` stage
  * (reference: src/ocrmypdf/_pipeline.py:155-201 sniffs the `%PDF-x.y`
  * signature in the first 1 KiB and dispatches by format).
  *
  * Deterministic precedence: gzip magic → decompress-first; `%PDF-` in the
  * first 1024 bytes → PDF branch; else HTML with charset detection
  * (BOM > declared meta charset > UTF-8-with-replacement).
  */
object Sniffer {

  final case class Sniffed(format: String, charset: String,
      bytes: Array[Byte], error: Option[String])

  val maxGunzipBytes: Int = 64 << 20 // bounded decompress (per-row budget)

  def sniff(raw: Array[Byte]): Sniffed = sniff(raw, 0)

  private def sniff(raw: Array[Byte], gzipDepth: Int): Sniffed = {
    if (raw == null || raw.isEmpty)
      return Sniffed("unknown", "binary", Array.emptyByteArray, None)
    if (raw.length >= 2 && (raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) {
      // depth cap: a nested-gzip bomb (each small layer inflating the
      // next) would otherwise do maxGunzipBytes of work per layer for
      // unbounded layers on ONE row — same discipline as the xobject
      // recursion cap
      if (gzipDepth >= 3)
        return Sniffed("gzip", "binary", Array.emptyByteArray,
          Some("gzip_nested"))
      gunzip(raw) match {
        case Right(inner) =>
          val s = sniff(inner, gzipDepth + 1)
          Sniffed("gzip+" + s.format, s.charset, s.bytes, s.error)
        case Left(err) =>
          Sniffed("gzip", "binary", Array.emptyByteArray, Some(err))
      }
    } else if (isPdf(raw)) {
      Sniffed("pdf", "binary", raw, None)
    } else {
      Sniffed("html", "utf-8", raw, None) // charset resolved at decode time
    }
  }

  def isPdf(raw: Array[Byte]): Boolean = {
    // scan ONLY the first 1 KiB (reference: _pdf_guess_version reads the
    // first 1024 bytes); an unbounded indexOf would walk multi-MB rows
    val limit = math.min(raw.length, 1024 + 5)
    val window = if (raw.length <= limit) raw
      else java.util.Arrays.copyOf(raw, limit)
    PdfDoc.indexOf(window, "%PDF-", 0) >= 0
  }

  def gunzip(raw: Array[Byte]): Either[String, Array[Byte]] = {
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw))
      // Long-side min: raw.length * 4 wraps negative past ~537 MB and a
      // negative initial size throws IllegalArgumentException (escaping
      // the IOException catch and mislabeling the outcome)
      val out = new java.io.ByteArrayOutputStream(
        math.min(raw.length.toLong * 4L, 1L << 20).toInt)
      val buf = new Array[Byte](8192)
      var k = in.read(buf)
      while (k >= 0 && out.size() <= maxGunzipBytes) {
        out.write(buf, 0, k)
        k = in.read(buf)
      }
      if (out.size() > maxGunzipBytes) Left("gzip_too_large")
      else Right(out.toByteArray)
    } catch {
      case _: java.io.IOException => Left("gzip_truncated")
    }
  }

  /** Charset detection: BOM > <meta charset> in first 1024 bytes > UTF-8
    * with U+FFFD replacement (never fails — the reference's charset
    * analog is raster device escalation,
    * src/ocrmypdf/_pipeline.py:530-570 `_select_raster_device`).
    *
    * Confidence-gated mojibake correction — the
    * get_orientation_correction analog (reference:
    * src/ocrmypdf/_pipeline.py:467-495: cheap probe detects a wrong
    * disposition, correction applied before the expensive stage, gated on
    * confidence): when a (non-BOM) UTF-8 decode produces replacement
    * chars, the bytes are re-decoded as windows-1252 — the web's dominant
    * mis-labelling — and the correction is accepted only if it strictly
    * reduces the damage. A BOM is an explicit declaration and is never
    * second-guessed. */
  def decodeHtml(raw: Array[Byte]): (String, String) = {
    if (raw.length >= 3 && (raw(0) & 0xff) == 0xef && (raw(1) & 0xff) == 0xbb &&
      (raw(2) & 0xff) == 0xbf)
      return ("utf-8", decodeWith(raw, 3, StandardCharsets.UTF_8))
    if (raw.length >= 2 && (raw(0) & 0xff) == 0xff && (raw(1) & 0xff) == 0xfe)
      return ("utf-16le", decodeWith(raw, 2, StandardCharsets.UTF_16LE))
    if (raw.length >= 2 && (raw(0) & 0xff) == 0xfe && (raw(1) & 0xff) == 0xff)
      return ("utf-16be", decodeWith(raw, 2, StandardCharsets.UTF_16BE))
    declaredCharset(raw) match {
      case Some(cs) if cs == StandardCharsets.UTF_8 =>
        utf8WithCorrection(raw, "utf-8")
      case Some(cs) => (cs.name().toLowerCase(java.util.Locale.ROOT),
        decodeWith(raw, 0, cs))
      case None => utf8WithCorrection(raw, "utf-8")
    }
  }

  private def replacements(s: String): Int = {
    var c = 0
    var i = 0
    while (i < s.length) { if (s.charAt(i) == '�') c += 1; i += 1 }
    c
  }

  /** Confidence threshold: correct only when ≤1/20 of the decoded chars
    * are damaged. A real mis-labelled page is mostly valid ASCII markup
    * with sparse high bytes; random binary decodes to DENSE damage and
    * must stay damaged (so the implausibility gates still reject it)
    * rather than "correct" to plausible-looking cp1252 letter soup —
    * the reference's rotate_pages_threshold discipline: no correction
    * below confidence. */
  val maxCorrectableDamage = 20 // 1 damaged char per this many chars

  private def utf8WithCorrection(raw: Array[Byte], label: String): (String, String) = {
    val first = decodeWith(raw, 0, StandardCharsets.UTF_8)
    val bad = replacements(first)
    if (bad == 0 || bad.toLong * maxCorrectableDamage > first.length)
      (label, first)
    else {
      // the probe runs only on suspicion (cheap-probe-then-decide); cp1252
      // maps every byte except 5 undefined ones, so a real mojibake page
      // decodes strictly cleaner
      val alt = decodeWith(raw, 0, Charset1252)
      if (replacements(alt) < bad) (s"$label->windows-1252", alt)
      else (label, first)
    }
  }

  private val Charset1252 = Charset.forName("windows-1252")

  private def decodeWith(raw: Array[Byte], offset: Int, cs: Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(raw, offset, raw.length - offset)).toString
  }

  /** Scan the first 1024 bytes (ASCII-superset view) for
    * charset=… inside a meta tag. Only a fixed allow-list of charsets is
    * honored (deterministic precedence — unknown names fall through). */
  def declaredCharset(raw: Array[Byte]): Option[Charset] = {
    val head = new String(raw, 0, math.min(raw.length, 1024),
      StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
    // honor charset= only inside a <meta …> tag: body prose or a URL
    // containing "charset=" in the first 1 KiB must not hijack decoding
    var i = -1
    var m = head.indexOf("<meta")
    while (i < 0 && m >= 0) {
      val tagEnd = head.indexOf('>', m) match {
        case -1 => head.length
        case e => e
      }
      val c = head.indexOf("charset=", m)
      if (c >= 0 && c < tagEnd) i = c
      else m = head.indexOf("<meta", m + 5)
    }
    if (i < 0) return None
    var j = i + 8
    // skip quotes
    while (j < head.length && (head.charAt(j) == '"' || head.charAt(j) == '\'' ||
      head.charAt(j) == ' ')) j += 1
    val start = j
    while (j < head.length && (head.charAt(j).isLetterOrDigit ||
      head.charAt(j) == '-' || head.charAt(j) == '_')) j += 1
    charsetFor(head.substring(start, j))
  }

  /** Fixed charset allow-list (WHATWG-ish label mapping, deterministic
    * precedence; unknown labels fall through to UTF-8-with-replacement).
    * Covers the encodings that actually occur at volume in web crawls. */
  def charsetFor(label: String): Option[Charset] = label match {
    case "utf-8" | "utf8" => Some(StandardCharsets.UTF_8)
    case "windows-1252" | "cp1252" | "iso-8859-1" | "latin-1" | "latin1" =>
      Some(Charset.forName("windows-1252"))
    // WHATWG: a UTF-16 label found by the ASCII-view PRESCAN (the only
    // caller of this map) is remapped to UTF-8 — a genuine UTF-16 page
    // has NUL-interleaved bytes and can never match the prescan, so any
    // page that declares utf-16 here is actually ASCII-compatible, and
    // decoding it two-bytes-per-char would produce garbage. Real UTF-16
    // is handled upstream by the BOM branch.
    case "utf-16" | "utf-16le" | "utf-16be" => Some(StandardCharsets.UTF_8)
    case "us-ascii" | "ascii" => Some(StandardCharsets.US_ASCII)
    case "shift_jis" | "shift-jis" | "sjis" | "x-sjis" | "ms932" =>
      Some(Charset.forName("windows-31j")) // WHATWG maps Shift_JIS → CP932
    case "euc-jp" => Some(Charset.forName("euc-jp"))
    case "gbk" | "gb2312" | "gb_2312" | "x-gbk" =>
      Some(Charset.forName("gbk"))
    case "gb18030" => Some(Charset.forName("gb18030"))
    case "big5" | "big5-hkscs" => Some(Charset.forName("big5"))
    case "euc-kr" | "ks_c_5601-1987" | "ksc5601" =>
      Some(Charset.forName("euc-kr"))
    case "koi8-r" | "koi8" => Some(Charset.forName("koi8-r"))
    case "koi8-u" => Some(Charset.forName("koi8-u"))
    case "windows-1251" | "cp1251" => Some(Charset.forName("windows-1251"))
    case "windows-1250" | "cp1250" => Some(Charset.forName("windows-1250"))
    case "windows-1254" | "cp1254" => Some(Charset.forName("windows-1254"))
    case "windows-1256" | "cp1256" => Some(Charset.forName("windows-1256"))
    case "windows-874" | "tis-620" => Some(Charset.forName("x-windows-874"))
    case l if l.startsWith("iso-8859-") && Charset.isSupported(l) =>
      Some(Charset.forName(l))
    case _ => None
  }
}

/** Language resolution — the reference stamps /Lang on output from the
  * language map (reference: src/ocrmypdf/_metadata.py:178-216 +
  * languages.py:848-853). Here: a well-formed ISO-639-3-looking input
  * hint is trusted; otherwise the language is predicted from the
  * extracted text (TextStats.langId). */
object LangResolve {
  def validHint(hint: String): Boolean =
    hint != null && hint.length == 3 &&
      hint.forall(c => c >= 'a' && c <= 'z')
  def resolve(hint: String, text: String): String =
    if (validHint(hint)) hint else graft.ops.TextStats.langId(text)
}

/** The one constructor of outcome-only rows: a typed skip / reject /
  * error verdict with empty text and no spans (the reference's
  * placeholder for a page it did not OCR, src/ocrmypdf/_pipeline.py:
  * 1307-1327). Language comes from the row's hint (predicted from no
  * text otherwise); `hintLang = false` keeps the "und" default. */
private[engine] object OutcomeRow {
  def apply(row: PageRow, outcome: String, engine: String, format: String,
      charset: String, nNodes: Int = 0, nBlocks: Int = 0,
      truncated: Boolean = false, hintLang: Boolean = true): ExtractResult =
    ExtractResult(row.url, row.warc_ts, "", Vector.empty, outcome, engine,
      format, charset, nNodes, nBlocks, truncated,
      lang = if (hintLang) LangResolve.resolve(row.lang, "") else "und")
}

/** The HTML branch — the reference's `OcrEngine` analog (reference:
  * src/ocrmypdf/pluginspec.py:404-544) on its "direct tree, no
  * intermediate file" path (src/ocrmypdf/_pipeline.py:744-772
  * `ocr_engine_direct`): bytes → (tree, text, spans) in one function. */
object HtmlEngine {
  val tag: String = EngineTags.Html

  /** Size reject threshold — the `--skip-big` analog (reference:
    * src/ocrmypdf/_pipeline.py:406-414 megapixel cutoff; here bytes).
    * Oversized rows flow through with a typed reject outcome instead of
    * burning kernel time. */
  val maxHtmlBytes: Int = 2 << 20

  def extractDecoded(row: PageRow, s: Sniffer.Sniffed,
      cfg: ExtractConfig): ExtractResult = {
    if (s.bytes.length > maxHtmlBytes)
      return OutcomeRow(row, Outcome.RejectedTooLarge, tag, s.format, "binary")
    val (charset, decoded) = Sniffer.decodeHtml(s.bytes)
    val tokens = Tokenizer.tokenize(decoded)
    val dom = TreeBuilder.build(tokens)
    val blocks = Blocks.segment(dom)
    val kept = Boilerplate.classify(blocks)
    val asm = TextAssembler.assemble(dom.title, kept, cfg.detailedSpans)
    // Disposition probe — the cheap-probe-then-decide pattern (reference:
    // rasterize_preview + get_orientation_correction,
    // src/ocrmypdf/_pipeline.py:418-495): a meta-refresh page with almost
    // no body text (title included; spans may be lazily disabled) is a
    // redirect shell, not content. `force` mode overrides the probe (the
    // rasterize-everything analog); the word count runs only when the
    // page has a refresh pragma and the mode lets it decide.
    val isRedirectShell = cfg.mode != ProcessingMode.Force &&
      dom.nodes.exists(graft.extract.Links.isRefresh) &&
      TextAssembler.splitWords(asm.text).length < 10
    // redirect target and rel=canonical are recorded for EVERY decoded
    // page (a frontier/dedup consumer wants the redirect edge precisely
    // from the skipped shell) — the disposition logic itself is
    // unchanged. The page/effective base is derived ONCE and shared by
    // refresh/canonical/links (this is the flagship-timed kernel path).
    val effBase = graft.extract.Links.parseAbs(row.url)
      .map(b => graft.extract.Links.effectiveBase(dom, b))
    val redirectTarget =
      effBase.map(graft.extract.Links.refreshTarget(dom, _)).getOrElse("")
    val canonicalUrl =
      effBase.map(graft.extract.Links.canonicalOf(dom, _)).getOrElse("")
    // head metas need no base resolution — recorded for every decoded
    // page for the same reason as redirect/canonical above
    val pageMetas = graft.extract.Links.metasOf(dom)
    val pageFeeds = effBase.map(graft.extract.Links.feedsOf(dom, _))
      .getOrElse(Vector.empty)
    if (isRedirectShell)
      return OutcomeRow(row, Outcome.SkippedRedirect, tag, s.format, charset,
        dom.nodes.length, blocks.length, dom.truncated).copy(
        redirect = redirectTarget, canonical = canonicalUrl,
        metas = pageMetas, feeds = pageFeeds, title = asm.title)
    val outcome =
      if (asm.text.isEmpty) Outcome.SkippedEmpty else Outcome.Ok
    ExtractResult(row.url, row.warc_ts, asm.text, asm.spans, outcome, tag,
      s.format, charset, dom.nodes.length, blocks.length, dom.truncated,
      lang = LangResolve.resolve(row.lang, asm.text),
      dir = TextAssembler.firstStrongDir(asm.text),
      // outlinks are a whole-visible-DOM property (boilerplate nav links
      // are exactly what a frontier consumer wants — the chrome flag
      // carries the split); redirect shells and rejects above emit none
      links = effBase.map(graft.extract.Links.fromDom(dom, _))
        .getOrElse(Vector.empty),
      redirect = redirectTarget, canonical = canonicalUrl,
      ldjson = dom.ldjson, metas = pageMetas, feeds = pageFeeds,
      title = asm.title,
      // structured projections: the outline reads the KEPT blocks
      // (content headings); the table view pairs an element-only grid
      // pass (guarded — a no-table page pays one tag scan, no allocs)
      // with the PRE-classification blocks' text (tabular data is
      // wanted even when density rules drop the table from the text)
      headings = graft.extract.Tables.headingsOf(dom, kept),
      cells = graft.extract.Tables.cellsOf(dom, blocks))
  }
}

/** The PDF branch: content-stream text with glyph-to-Unicode mapping. */
object PdfEngine {
  val tag: String = EngineTags.Pdf

  def extract(row: PageRow): ExtractResult =
    extractSniffed(row, Sniffer.sniff(row.html), ExtractConfig())

  def extractSniffed(row: PageRow, s: Sniffer.Sniffed,
      cfg: ExtractConfig): ExtractResult = {
    val doc = PdfDoc.parse(s.bytes)
    if (doc.encrypted)
      return OutcomeRow(row, Outcome.SkippedEncrypted, tag, s.format,
        "binary", doc.objects.size)
    val resolve: Cos => Cos = PdfDoc.resolveIn(doc.objects)
    // Doc-level validation rejects (reference: validate_pdfinfo_options,
    // src/ocrmypdf/_pipeline.py:231-280 — XFA forms :236-240 cannot be
    // processed; the row flows through with a typed reject outcome).
    val acroForm: Option[CosDict] =
      doc.catalog.flatMap(_.get("AcroForm")).map(resolve).collect {
        case d: CosDict => d
      }
    def reject(outcome: String): ExtractResult =
      OutcomeRow(row, outcome, tag, s.format, "binary", doc.objects.size)
    val hasXfa = acroForm.exists(_.get("XFA").isDefined)
    if (hasXfa) return reject(Outcome.RejectedXfaForm)
    // Doc-level policy matrix, same order as the reference's
    // validate_pdfinfo_options (src/ocrmypdf/_pipeline.py:241-279):
    //  - digital signature → reject in every mode (re-writing the text
    //    layer would invalidate it; DigitalSignatureError)
    //  - fillable AcroForm → reject under redo only (InputFileError:
    //    redo cannot rebuild form text); other modes proceed with the
    //    form flattened (the reference warns and continues)
    //  - Tagged PDF / structure tree → reject under default mode only
    //    (TaggedPDFError: born-digital, OCR would discard the markup);
    //    force/skip/redo proceed
    // bit 1 of /SigFlags = SignaturesExist (PDF 32000-1 §12.7.2); bit 2
    // (AppendOnly) alone does NOT mean the document is signed
    val hasSignature = acroForm.flatMap(_.get("SigFlags")).map(resolve).exists {
      case n: CosNum => (n.i & 1) != 0
      case _ => false
    }
    if (hasSignature) return reject(Outcome.RejectedDigitalSignature)
    val hasAcroform = acroForm.exists(_.get("Fields").isDefined)
    if (hasAcroform && cfg.mode == ProcessingMode.Redo)
      return reject(Outcome.RejectedAcroformRedo)
    val isTagged = doc.catalog.exists { c =>
      c.get("StructTreeRoot").isDefined ||
      (c.get("MarkInfo").map(resolve) match {
        case Some(d: CosDict) =>
          d.get("Marked").map(resolve).contains(CosBool(true))
        case _ => false
      })
    }
    if (isTagged && cfg.mode == ProcessingMode.Default)
      return reject(Outcome.RejectedTaggedPdf)
    var truncated = false

    // Per-document memo on resource-dict IDENTITY: pages usually share one
    // inherited /Resources dict, so fonts/xobjects are resolved once per
    // document instead of once per page (the within-doc half of the
    // MultiFontManager memoization; the cross-doc half is the CMap content
    // cache in Glyphs.parseCMapCached). Identity keying is safe — resolve
    // returns the same CosDict instance for the same object number.
    val fontMemo = new java.util.IdentityHashMap[CosDict, Map[String, FontInfo]]()
    val xobjMemo = new java.util.IdentityHashMap[CosDict, Map[String, ContentStream.FormXObject]]()

    def fontMap(res: CosDict): Map[String, FontInfo] = {
      val got = fontMemo.get(res)
      if (got != null) got
      else {
        val v: Map[String, FontInfo] = res.get("Font").map(resolve) match {
          case Some(fd: CosDict) => fd.m.map { case (k, v) =>
            k -> (resolve(v) match {
              case d: CosDict => Glyphs.fontInfo(d, resolve)
              case _ => Glyphs.default
            })
          }
          case _ => Map.empty
        }
        fontMemo.put(res, v)
        v
      }
    }

    // Resolve drawable Form XObjects against /Resources/XObject — the
    // reference's only join-like operation (reference:
    // src/ocrmypdf/pdfinfo/_image.py:306-333 resolves Do operators via
    // name_index), here a map-side dictionary lookup (depth-capped).
    // the resource-map depth must EXCEED the interpreter's
    // maxXObjectDepth (8): capping the maps shallower would silently
    // empty the Do lookup at depth 4+ with truncated=false, making the
    // interpreter's own depth guard (which sets the flag) unreachable.
    // Termination/blowup safety at the deeper cap: a dict already on
    // the CURRENT recursion path returns empty (true resource cycles),
    // and a per-document budget bounds the total Form XObjects
    // materialized (a crafted branching tree is b^9 otherwise); keys
    // are built in sorted order so a tripped budget cuts
    // deterministically.
    val xobjPath = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[CosDict, java.lang.Boolean]())
    var xobjBudget = 4096
    def xobjectMap(res: CosDict, depth: Int): Map[String, ContentStream.FormXObject] =
      if (depth > ContentStream.maxXObjectDepth || !xobjPath.add(res))
        Map.empty
      else try {
        res.get("XObject").map(resolve) match {
          case Some(xd: CosDict) => xd.m.toSeq.sortBy(_._1).flatMap {
            case (k, v) =>
            resolve(v) match {
              case st: CosStream
                if resolve(st.dict.get("Subtype").getOrElse(CosNull)) ==
                  CosName("Form") =>
                if (xobjBudget > 0) {
                  xobjBudget -= 1
                  val decoded = PdfDoc.decodeStream(st, resolve).map { bytes =>
                    val innerRes = st.dict.get("Resources").map(resolve) match {
                      case Some(r: CosDict) => Some(r)
                      case _ => None
                    }
                    k -> ContentStream.FormXObject(bytes,
                      innerRes.map(fontMap).getOrElse(Map.empty),
                      innerRes.map(xobjectMap(_, depth + 1)).getOrElse(Map.empty))
                  }
                  // a Form whose stream fails to decode is dropped — its
                  // Do no-ops and its text is lost; same silent-loss
                  // class as the exhausted-budget branch below, so it
                  // must raise the same flag
                  if (decoded.isEmpty) truncated = true
                  decoded
                } else {
                  // budget exhausted on a REAL Form: its Do lookup will
                  // no-op and its text is knowingly dropped — that is a
                  // truncation and must be visible as one (the same
                  // silent-loss class the depth-cap comment above calls
                  // out; quality gates key off this flag)
                  truncated = true
                  None
                }
              case _ => None
            }
          }.toMap
          case _ => Map.empty
        }
      } finally { xobjPath.remove(res); () }

    // memoize only the page-level (depth 0) entry: the recursion-depth
    // guard inside xobjectMap must stay live for self-referential
    // resource dicts, so inner calls are never cached
    def xobjectMapTop(res: CosDict): Map[String, ContentStream.FormXObject] = {
      val got = xobjMemo.get(res)
      if (got != null) got
      else {
        val v = xobjectMap(res, 0)
        xobjMemo.put(res, v)
        v
      }
    }

    val pageTexts = doc.pages.zipWithIndex.map { case (page, idx) =>
      val fonts: Map[String, FontInfo] =
        page.inheritedResources.map(fontMap).getOrElse(Map.empty)
      val xobjs = page.inheritedResources.map(xobjectMapTop)
        .getOrElse(Map.empty)
      val contents: Vector[Array[Byte]] = page.dict.get("Contents").map(resolve) match {
        case Some(s: CosStream) =>
          PdfDoc.decodeStream(s, resolve).toVector
        case Some(CosArr(items)) =>
          items.map(resolve).collect { case st: CosStream => st }
            .flatMap(PdfDoc.decodeStream(_, resolve))
        case _ => Vector.empty
      }
      if (contents.isEmpty) "" else {
        // single sized buffer: a pairwise reduce would be O(total²) on
        // many-segment pages
        val merged = {
          val total = contents.map(_.length).sum + contents.length - 1
          val buf = new Array[Byte](total)
          var off = 0
          contents.zipWithIndex.foreach { case (c, i) =>
            if (i > 0) { buf(off) = '\n'.toByte; off += 1 }
            System.arraycopy(c, 0, buf, off, c.length)
            off += c.length
          }
          buf
        }
        val pt = ContentStream.interpret(merged, fonts, xobjs)
        if (pt.truncated) truncated = true
        pt.lines.map(_.trim).filter(_.nonEmpty)
          .map(Blocks.nfkc).mkString("\n")
      }
    }
    // Ordered merge with \f separators — merge_sidecars semantics
    // (reference: src/ocrmypdf/_pipeline.py:1307-1327: page order, \f
    // separators, placeholders instead of silent drops). Runs of textless
    // pages get one "[no text on page(s) i-j]" marker at the run's first
    // page (reference: enumerate_compress_ranges, _pipeline.py:1274-1304).
    val nonEmpty = pageTexts.exists(_.nonEmpty)
    val withPlaceholders: Vector[String] =
      if (!nonEmpty) pageTexts
      else {
        val emptyRuns = graft.extract.Ranges.compress(
          pageTexts.zipWithIndex.collect { case ("", i) => i + 1 })
        var runIdx = 0
        pageTexts.zipWithIndex.map { case (t, i) =>
          if (t.nonEmpty) t
          else if (runIdx < emptyRuns.length &&
            emptyRuns(runIdx).takeWhile(_.isDigit).toInt == i + 1) {
            val marker = s"[no text on page(s) ${emptyRuns(runIdx)}]"
            runIdx += 1
            marker
          } else ""
        }
      }
    val text = withPlaceholders.mkString("\f")
    val spans = if (!cfg.detailedSpans) Vector.empty[Span] else {
      var off = 0
      withPlaceholders.zipWithIndex.flatMap { case (t, i) =>
        val start = off
        off += t.length + 1 // + separator
        if (t.isEmpty) None
        else {
          val kind = if (pageTexts(i).isEmpty) "pdf_skip" else "pdf_text"
          Some(Span(start, start + t.length, kind, s"/page[${i + 1}]"))
        }
      }
    }
    val outcome =
      if (doc.pages.isEmpty) Outcome.error("pdf_no_pages")
      else if (!nonEmpty) Outcome.SkippedNoText
      else Outcome.Ok
    val finalText = if (nonEmpty) text else ""
    ExtractResult(row.url, row.warc_ts, finalText, spans,
      outcome, tag, s.format, "binary", doc.objects.size, doc.pages.length,
      truncated, lang = LangResolve.resolve(row.lang, finalText),
      dir = TextAssembler.firstStrongDir(finalText))
  }
}

/** Top-level per-row kernel: triage → dispatch → contain failures.
  * One deterministic function, the whole per-row pipeline fused in one
  * stage (SURVEY.md §4 "stage pipelining": preview→rasterize→ocr run
  * back-to-back per unit inside one task). */
object Extractor {

  def extract(row: PageRow): ExtractResult = extract(row, ExtractConfig())

  /** hasPrior — the page-already-has-text predicate of the reference's
    * skip matrix (reference: src/ocrmypdf/_pipeline.py:352-372). */
  def hasPrior(row: PageRow): Boolean =
    row.text != null && row.text.trim.nonEmpty

  def extract(row: PageRow, cfg: ExtractConfig): ExtractResult = {
    try {
      val s = Sniffer.sniff(row.html) // cheap triage BEFORE the mode gate:
      // triage facts (format/charset) are recorded even for gated rows,
      // like the reference's pdfinfo scan preceding is_ocr_required
      s.error match {
        case Some(err) =>
          OutcomeRow(row, Outcome.error(err), EngineTags.Html, s.format,
            s.charset)
        case None =>
          val branchTag =
            if (s.format.endsWith("pdf")) EngineTags.Pdf else EngineTags.Html
          // prior-text × mode matrix (ProcessingMode scaladoc; reference:
          // _options.py:37-55 × _pipeline.py:352-372) — gated rows are
          // never dropped, they flow through with typed outcomes
          if (hasPrior(row) && cfg.mode == ProcessingMode.Default) {
            OutcomeRow(row, Outcome.RejectedPriorText, branchTag, s.format,
              s.charset)
          } else if (cfg.mode == ProcessingMode.Strip) {
            // strip: remove the machine text layer in place, do NOT
            // re-extract (reference `--mode strip`, _options.py:55) — the
            // prior channel is emptied and no engine runs on any row
            if (hasPrior(row))
              OutcomeRow(row, Outcome.StrippedPriorText, EngineTags.Prior,
                s.format, s.charset)
            else
              OutcomeRow(row, Outcome.SkippedNothingToStrip, EngineTags.Null,
                s.format, s.charset)
          } else if (hasPrior(row) && cfg.mode == ProcessingMode.Skip) {
            ExtractResult(row.url, row.warc_ts, row.text, Vector.empty,
              Outcome.SkippedPriorText, EngineTags.Prior, s.format,
              s.charset, 0, 0, truncated = false,
              lang = LangResolve.resolve(row.lang, row.text),
              dir = graft.extract.TextAssembler.firstStrongDir(row.text))
          } else {
            // redo always runs the detailed (span-level) analysis — the
            // reference's only char-level-layout path
            val effCfg =
              if (cfg.mode == ProcessingMode.Redo) cfg.copy(detailedSpans = true)
              else cfg
            s.format match {
              case f if f.endsWith("pdf") =>
                PdfEngine.extractSniffed(row, s, effCfg)
              case f if f.endsWith("unknown") =>
                // endsWith like the pdf arm: "gzip+unknown" (gzip wrapping
                // an empty payload) must take the same Null/SkippedEmpty
                // route as a bare empty payload
                OutcomeRow(row, Outcome.SkippedEmpty, EngineTags.Null,
                  s.format, s.charset)
              case _ => HtmlEngine.extractDecoded(row, s, effCfg)
            }
          }
      }
    } catch {
      // Per-row failure containment: a bad document yields a typed outcome,
      // never a task death (reference: src/ocrmypdf/_exec/tesseract.py:
      // 341-353 timeout → skip marker; 228-237 benign-error downgrades).
      // NonFatal ONLY: OutOfMemoryError must not leave the executor
      // limping on a corrupt heap, and a task kill's InterruptedException
      // must actually stop the partition loop.
      case scala.util.control.NonFatal(e) =>
        OutcomeRow(row, Outcome.error(e.getClass.getSimpleName),
          EngineTags.Html, "unknown", "binary", hintLang = false)
    }
  }
}

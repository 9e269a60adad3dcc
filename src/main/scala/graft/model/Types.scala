package graft.model

/** Core data model for the extraction engine (SURVEY.md §1).
  *
  * Input row shape follows BASELINE.json `input_hint`:
  * pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  *
  * The output record mirrors the reference's per-page result record
  * (reference: src/ocrmypdf/_pipelines/_common.py:95-114 `PageResult`) —
  * the unit handed from the parallel worker back to the ordered merge: it
  * must carry the extracted text, the typed element projection (spans), and
  * an outcome marker so skipped/failed rows are never silently dropped
  * (reference: src/ocrmypdf/_pipeline.py:1307-1327 `merge_sidecars` emits
  * placeholders for skipped pages instead of dropping them).
  */
final case class PageRow(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String, // upstream-provided text; untrusted, unused by the kernel
    lang: String // hint only
)

/** Character-offset span into the extracted text.
  * Analog of the reference's simplified textbox projection
  * (reference: src/ocrmypdf/pdfinfo/info.py:73-87 `simplify_textboxes` —
  * project the heavyweight layout object to the minimal pickleable record).
  */
final case class Span(start: Int, end: Int, kind: String, path: String)

/** An outlink extracted from the DOM: `raw` as written in the href
  * attribute, `resolved` the absolute http(s) URL after RFC 3986 §5
  * reference resolution against the page URL (honoring the document's
  * first `<base href>`). Fragment-only and non-http(s)-scheme links are
  * never emitted (same-document references / non-navigable schemes are
  * not edges). `chrome` marks nav/header/footer/aside ancestry — the
  * same content-vs-chrome predicate the boilerplate classifier uses
  * (reference: src/ocrmypdf/pdfinfo/info.py:420-442 `_page_has_text`
  * content-vs-chrome geometry) — so graph consumers can split
  * navigation edges from in-content citations. `text` is the anchor's
  * visible text (NFKC'd, whitespace-collapsed, capped at 256 code
  * points; '' for image/empty anchors) — the inbound-anchor corpus
  * retrieval training mines per target page. */
final case class Link(idx: Int, raw: String, resolved: String,
    chrome: Boolean, text: String)

/** A head `<meta>` tag surfaced for structured-data consumers (the
  * CC-WAT `Head → Metas` analog). `name` is the meta's `name` or
  * `property` attribute (OpenGraph writes `property`), trimmed and
  * lowercased — HTML metadata names are ASCII case-insensitive;
  * `content` is VERBATIM, like [[ExtractResult.ldjson]] payloads —
  * interpretation is downstream plan-side work, never the kernel's.
  * `http-equiv` pragmas are NOT surfaced here: the one with pipeline
  * semantics (refresh) already rides as [[ExtractResult.redirect]]. */
final case class MetaTag(name: String, content: String)

/** A kept content heading — the document OUTLINE row (the reference's
  * structural analog is the hOCR paragraph hierarchy,
  * src/ocrmypdf/hocrtransform/hocr_parser.py par/line nesting). `level`
  * is 1–6 from the hN tag; `text` is the block's assembler-normalized
  * text, kernel-emitted for the same reason as [[ExtractResult.title]]
  * (span offsets are UTF-16 units — SQL substr cannot recover it). */
final case class Heading(level: Int, text: String)

/** One table cell of the structured-table projection: 0-based table /
  * row / column ordinals in document order, `header` for `<th>`. Cell
  * text is segmentation-normalized (NFKC, word-joined) — the
  * relational view of `<table>` content that data-mining consumers
  * explode into rows, independent of the boilerplate verdict. */
final case class TableCell(tbl: Int, row: Int, col: Int,
    header: Boolean, text: String)

/** Output row of the extraction stage. `outcome` is the typed failure/skip
  * channel (reference: timeout/failure containment,
  * src/ocrmypdf/_exec/tesseract.py:341-353 — a bad document yields a marker,
  * never a task death). `engine` is the version stamp (reference:
  * src/ocrmypdf/pluginspec.py:417-427 `creator_tag`).
  *
  * Triage facts (format/charset) ride along so the sniff stage is
  * independently verifiable (reference: src/ocrmypdf/_pipeline.py:155-201
  * `triage` + `_pdf_guess_version`).
  */
final case class ExtractResult(
    url: String,
    warc_ts: java.sql.Timestamp,
    text: String,
    spans: Seq[Span],
    outcome: String, // ok | skipped:<reason> | error:<class>
    engine: String,
    format: String, // html | pdf | gzip+html | gzip+pdf | unknown
    charset: String, // utf-8 | utf-16le | utf-16be | windows-1252 | binary
    n_nodes: Int, // DOM nodes built (html branch) or PDF objects parsed
    n_blocks: Int, // candidate blocks before classification
    truncated: Boolean, // a bounded-resource guard fired (deterministically)
    lang: String = "und", // resolved language: valid input hint, else predicted
    dir: String = "ltr", // first-strong bidi direction of the extracted text
    links: Seq[Link] = Nil, // resolved outlinks (html branch; whole visible DOM)
    redirect: String = "", // resolved meta-refresh target ('' when none)
    canonical: String = "", // resolved <link rel=canonical> ('' when none)
    // <script type="application/ld+json"> payloads, document order,
    // VERBATIM (structured-data mining happens downstream with JSON
    // column functions, never in the kernel)
    ldjson: Seq[String] = Nil,
    // head <meta name|property=... content=...> pairs, document order
    // (the WAT Head-Metas field; body metas rejected like body
    // canonicals — user-posted markup must not inject page metadata)
    metas: Seq[MetaTag] = Nil,
    // autodiscovered feed URLs (head <link rel=alternate
    // type=rss|atom href>, resolved, document order) — the page-side
    // pointer the Feeds discovery channel starts from
    feeds: Seq[String] = Nil,
    // normalized <title> text ('' when none) — the doc-index field,
    // emitted by the kernel because span offsets are UTF-16 units and
    // SQL substr counts code points (see TextAssembler.Assembled)
    title: String = "",
    // kept content headings in document order — the outline
    headings: Seq[Heading] = Nil,
    // structured table cells (all visible cells with a table ancestor,
    // pre-classification — tabular data is wanted even when the
    // boilerplate verdict drops the table from the text)
    cells: Seq[TableCell] = Nil
)

/** The closed outcome vocabulary: every value the engine emits, plus the
  * `error:<class>` family. */
object Outcome {
  val Ok = "ok"
  val SkippedEmpty = "skipped:empty"
  val SkippedEncrypted = "skipped:encrypted"
  val SkippedNoText = "skipped:no_text"
  val SkippedPriorText = "skipped:prior_text"
  val SkippedNothingToStrip = "skipped:nothing_to_strip"
  val SkippedRedirect = "skipped:redirect"
  val RejectedPriorText = "rejected:prior_text"
  val RejectedTooLarge = "rejected:too_large"
  val RejectedXfaForm = "rejected:xfa_form"
  val RejectedDigitalSignature = "rejected:digital_signature"
  val RejectedAcroformRedo = "rejected:acroform_redo"
  val RejectedTaggedPdf = "rejected:tagged_pdf"
  val StrippedPriorText = "stripped:prior_text"

  /** Every fixed outcome; failures are the `error:<class>` family. */
  val all: Seq[String] = Seq(Ok, SkippedEmpty, SkippedEncrypted,
    SkippedNoText, SkippedPriorText, SkippedNothingToStrip, SkippedRedirect,
    RejectedPriorText, RejectedTooLarge, RejectedXfaForm,
    RejectedDigitalSignature, RejectedAcroformRedo, RejectedTaggedPdf,
    StrippedPriorText)

  private val ErrorPrefix = "error:"
  def error(cls: String): String = ErrorPrefix + cls

  /** The failure predicate over an outcome column. */
  def isFailure(outcome: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = outcome.startsWith(ErrorPrefix)
}

/** Prior-text processing mode — the reference's ProcessingMode enum
  * (reference: src/ocrmypdf/_options.py:37-55 default/force/skip/redo)
  * crossed with the per-page prior-text matrix
  * (reference: src/ocrmypdf/_pipeline.py:352-372 `is_ocr_required`):
  *  - default: a row that already carries upstream text is REJECTED
  *    (reference raises PriorOcrFoundError) — never silently re-extracted.
  *  - skip:    rows with prior text pass it through untouched
  *    (--skip-text keeps the existing text layer), outcome
  *    skipped:prior_text; extraction runs only on prior-less rows.
  *  - redo:    prior text is discarded and extraction re-runs with
  *    detailed (span-level) analysis — the reference's redo_ocr path is
  *    the only one doing char-level layout (_pipelines/_common.py:361).
  *  - force:   extraction runs unconditionally, overriding even
  *    cheap-probe skips (the rasterize-everything analog).
  *  - strip:   the machine text layer is REMOVED and extraction does NOT
  *    run (reference `--mode strip`, _options.py:55 "Remove the invisible
  *    OCR text layer in place; do not OCR"): rows with prior text emit
  *    empty text with outcome stripped:prior_text; rows without prior
  *    text have nothing to strip and pass through untouched
  *    (skipped:nothing_to_strip) — no engine runs on any row.
  */
object ProcessingMode {
  val Default = "default"
  val Force = "force"
  val Skip = "skip"
  val Redo = "redo"
  val Strip = "strip"
  val all: Seq[String] = Seq(Default, Force, Skip, Redo, Strip)
}

/** Kernel configuration (broadcast-by-closure to executors; validated at
  * the driver like the reference's pydantic OcrOptions,
  * src/ocrmypdf/_options.py:142-686).
  *
  * `detailedSpans` is the lazy-detailed-analysis gate (reference runs
  * char-level layout only under redo_ocr): when false the assembler skips
  * span bookkeeping entirely and the spans column stays empty — text
  * bytes are unaffected. */
final case class ExtractConfig(
    mode: String = ProcessingMode.Default,
    detailedSpans: Boolean = true) {
  require(ProcessingMode.all.contains(mode), s"unknown mode: $mode")
}

object EngineTags {
  // Version-stamped like the reference's creator_tag; bump when any golden
  // byte changes (FIXTURES.md "Golden outputs").
  val Html = "graft-html/0.2"
  val Pdf = "graft-pdf/0.2"
  val Null = "graft-null/0.2"
  val Prior = "graft-prior/0.2" // prior text passed through (mode=skip)
}

package graft.extract

import graft.html.{Dom, DomNode}
import scala.collection.mutable.ArrayBuffer

/** A candidate text block: the unit of boilerplate classification.
  * Link-chars carry link-ness so the classifier can compute link density —
  * the generalization of the reference's geometric content-vs-chrome
  * predicate (reference: src/ocrmypdf/pdfinfo/info.py:44-70
  * `_page_has_text` ignores text in the 12.5% margin band; here "margin"
  * is structural: nav/header/footer/aside ancestry + link density).
  *
  * `text` is the final joined form (single space between words except
  * CJK–CJK, the renderer.py:740-748 rule) built DURING segmentation:
  * per-word Strings and word vectors were the segmentation hot path's
  * dominant allocation, so the classifier features that used to be
  * derived from the word list (max word length, letter count, CJK count)
  * are folded into the same single pass. */
final case class Block(
    kind: String, // title|heading|para|list_item|pre|quote|cell|caption
    path: String, // /html/body/div[1]/p[2]
    text: String, // words joined: ' ' except between two CJK words
    nWords: Int,
    linkChars: Int,
    chars: Int, // sum of word lengths (separators excluded)
    maxWordLen: Int,
    letters: Int, // Character.isLetter chars across words
    cjk: Int, // CJK codepoints across words
    inChrome: Boolean, // nav/header/footer/aside ancestry (DomNode.chrome)
    anchor: Int // nearest block-level element id; -1 for body-level text
)

object Blocks {

  val blockTags: Set[String] = Set("address", "article", "aside",
    "blockquote", "body", "caption", "dd", "details", "div", "dl", "dt",
    "fieldset", "figcaption", "figure", "footer", "form", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "hr", "html", "li", "main", "menu", "nav",
    "ol", "p", "pre", "section", "summary", "table", "tbody", "td", "tfoot",
    "th", "thead", "tr", "ul")

  def kindOf(tag: String): String = tag match {
    case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" => "heading"
    case "li" | "dd" | "dt" => "list_item"
    case "pre" => "pre"
    case "blockquote" => "quote"
    case "td" | "th" => "cell"
    case "caption" | "figcaption" => "caption"
    case _ => "para"
  }

  /** NFKC normalization — load-bearing for byte-identical output
    * (reference: src/ocrmypdf/hocrtransform/hocr_parser.py:372-384
    * normalizes every word to NFKC before emission). ASCII fast path:
    * NFKC is the identity on ASCII, and most web-text chunks are ASCII,
    * so skip the normalizer allocation when possible. */
  def nfkc(s: String): String = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return java.text.Normalizer
        .normalize(s, java.text.Normalizer.Form.NFKC)
      i += 1
    }
    s
  }

  /** Memoized element-path builder ("/html/body/div[1]/p[2]") for the
    * block paths that spans carry. */
  private def pathBuilder(nodes: ArrayBuffer[DomNode]): Int => String = {
    val paths = new scala.collection.mutable.HashMap[Int, String]
    def pathOf(id: Int): String = {
      if (id < 0) return ""
      paths.getOrElseUpdate(id, {
        val nd = nodes(id)
        pathOf(nd.parent) + "/" + nd.tag +
          (if (nd.sibIndex > 1) "[" + nd.sibIndex + "]" else "")
      })
    }
    pathOf
  }

  /** Segment the DOM into candidate blocks in document order.
    *
    * Each visible text node is assigned to its nearest block-level element
    * ancestor; consecutive text nodes sharing that ancestor form one block.
    * Pure array walk — no recursion, O(n) with memoized ancestor lookups.
    */
  def segment(dom: Dom): Vector[Block] = {
    val nodes = dom.nodes
    val n = nodes.length
    // memoized per-element facts, computed in one forward pass (parents
    // always precede children in the flattened ordering)
    val blockAnc = new Array[Int](n) // nearest block ancestor (element id)
    val linkAnc = new Array[Boolean](n) // inside <a> below the block anc
    val pathOf = pathBuilder(nodes)

    var i = 0
    while (i < n) {
      val nd = nodes(i)
      if (nd.tag != "#text") {
        val p = nd.parent
        val isBlock = blockTags.contains(nd.tag)
        blockAnc(i) = if (isBlock) i else if (p >= 0) blockAnc(p) else -1
        // link ancestry follows the PARENT CHAIN unconditionally: HTML5
        // allows block content inside <a> (card grids of <a><h3>…<p>…),
        // and resetting at block elements let those navigation teasers
        // evade the link-density gate with linkChars = 0
        linkAnc(i) = (p >= 0 && linkAnc(p)) || nd.tag == "a"
      }
      i += 1
    }

    val out = new ArrayBuffer[Block]
    var curAnc = -2
    val btext = new java.lang.StringBuilder // joined block text, built inline
    var nWords = 0
    var linkChars = 0
    var chars = 0
    var maxWordLen = 0
    var letters = 0
    var cjkCount = 0
    var curChrome = false
    var curKind = "para"
    var curPath = ""
    var isPre = false
    val pending = new java.lang.StringBuilder // partial word across chunks
    var pendingLinkChars = 0 // link-attributed chars within `pending`

    // The pending word is carried ACROSS text-node boundaries within one
    // block: inline markup inside a word (caf<b>é</b>, <a>Wiki</a>pedia)
    // must not split it — rendered text has no space there. Link-char
    // attribution is per appended char, so a word spanning a link edge
    // counts only its linked chars toward link density.
    //
    // The join rule (single space except CJK–CJK) is applied HERE, at word
    // granularity, identical to the former joinWords pass over the word
    // vector — one allocation (the block text) instead of one per word.
    def flushWord(): Unit = {
      if (pending.length > 0) {
        // no space after a preserved <pre> newline — it IS the separator
        if (btext.length() > 0 && btext.charAt(btext.length - 1) != '\n') {
          val prevCp = btext.codePointBefore(btext.length())
          val nextCp = pending.codePointAt(0)
          if (!(isCjk(prevCp) && isCjk(nextCp))) btext.append(' ')
        }
        btext.append(pending)
        nWords += 1
        chars += pending.length
        if (pending.length > maxWordLen) maxWordLen = pending.length
        // letters is CHAR-based (exactly the former
        // `w.count(Character.isLetter)` — surrogate units count as
        // non-letters, so astral codepoints contribute 0 either way),
        // cjk is CODEPOINT-based (the former effectiveChars walk) — both
        // frozen classifier rules, fused into ONE codepoint walk
        var j = 0
        while (j < pending.length) {
          val cp = pending.codePointAt(j)
          if (cp <= 0xffff && Character.isLetter(cp)) letters += 1
          if (isCjk(cp)) cjkCount += 1
          j += Character.charCount(cp)
        }
        linkChars += pendingLinkChars
        pending.setLength(0)
        pendingLinkChars = 0
      }
    }

    def flushBlock(): Unit = {
      flushWord()
      if (nWords > 0)
        out += Block(curKind, curPath, btext.toString, nWords, linkChars,
          chars, maxWordLen, letters, cjkCount, curChrome, curAnc)
      btext.setLength(0); nWords = 0
      linkChars = 0; chars = 0; maxWordLen = 0; letters = 0; cjkCount = 0
    }

    i = 0
    while (i < n) {
      val nd = nodes(i)
      if (nd.tag == "#text" && nd.visible && nd.text != null) {
        val p = nd.parent
        val anc = if (p >= 0) blockAnc(p) else -1
        if (anc != curAnc) {
          flushBlock()
          curAnc = anc
          curChrome = nd.chrome
          val ancTag = if (anc >= 0) nodes(anc).tag else "body"
          curKind = kindOf(ancTag)
          curPath = if (anc >= 0) pathOf(anc) else "/"
          isPre = ancTag == "pre"
        }
        val link = p >= 0 && linkAnc(p)
        val t = nfkc(nd.text)
        var j = 0
        // the WHATWG post-<pre> newline strip happens at TREE
        // CONSTRUCTION (TreeBuilder's preNL token rule) — token-level,
        // so an intervening comment token correctly cancels it; nothing
        // to do here
        while (j < t.length) {
          if (Character.isWhitespace(t.charAt(j))) {
            // <pre>: line structure is content (code blocks) — newlines
            // survive as literal separators instead of collapsing into
            // the single-space word join
            if (isPre && t.charAt(j) == '\n') { flushWord(); btext.append('\n') }
            else flushWord()
            j += 1
          }
          else {
            // bulk run: append the whole non-whitespace stretch in one
            // call (the segmentation hot loop — pages are mostly words)
            val start = j
            j += 1
            while (j < t.length && !Character.isWhitespace(t.charAt(j))) j += 1
            pending.append(t, start, j)
            if (link) pendingLinkChars += j - start
          }
        }
      } else if (nd.tag == "br" && nd.visible) {
        // a VISIBLE <br> renders as a line break — a word boundary; a br
        // inside a hidden subtree renders nothing and must not split the
        // visible word spanning the hidden span
        flushWord()
      } else if (nd.visible && boundaryTags.contains(nd.tag)) {
        // a visible RENDERED-BOX element between texts is a word
        // boundary even when it carries no text of its own (`End<hr>
        // Next`, `foo<p></p>bar`, adjacent minified <li>s): browsers
        // render the texts on separate lines/boxes, so the words must
        // not merge. Hidden boxes render nothing — same rule as br.
        flushWord()
      } else if (widgetTags.contains(nd.tag) &&
          (nd.parent < 0 || nodes(nd.parent).visible)) {
        // replaced/widget elements (textarea, select, iframe, svg …)
        // are tree-INVISIBLE (their internals are not document text)
        // but still RENDER a box — `foo<textarea>…</textarea>bar` shows
        // two separated words. Gate on the PARENT's visibility: inside
        // display:none the widget renders nothing and must not split.
        flushWord()
      }
      i += 1
    }
    flushBlock()
    out.toVector
  }

  /** Rendered-box boundary tags for the word-flush rule in the segment
    * walk: every block-level tag plus the list/table item tags that
    * render boxes without defining block-segmentation boundaries. */
  private val boundaryTags: Set[String] =
    graft.html.TreeBuilder.closesP ++ Set("li", "dd", "dt", "td", "th",
      "tr", "caption", "thead", "tbody", "tfoot")

  /** Self-invisible elements that nevertheless render a BOX. */
  private val widgetTags: Set[String] =
    Set("textarea", "select", "iframe", "object", "svg", "math")

  /** First strong CJK membership test for the word-join rule
    * (reference: src/ocrmypdf/fpdf_renderer/renderer.py:813-849
    * `_is_cjk_only` — space between words except CJK–CJK). */
  def isCjk(cp: Int): Boolean =
    (cp >= 0x2e80 && cp <= 0x9fff) || // radicals, kana, CJK unified
      (cp >= 0xac00 && cp <= 0xd7af) || // hangul syllables
      (cp >= 0xf900 && cp <= 0xfaff) || // compat ideographs
      (cp >= 0xfe30 && cp <= 0xfe4f) || // compat forms
      (cp >= 0x20000 && cp <= 0x2fa1f) // ext B..F

  def lastCp(s: String): Int =
    if (s.isEmpty) -1 else s.codePointBefore(s.length)
  def firstCp(s: String): Int = if (s.isEmpty) -1 else s.codePointAt(0)

  /** Join words with a single space except between two CJK words. */
  def joinWords(words: Vector[String]): String = {
    if (words.isEmpty) return ""
    val sb = new java.lang.StringBuilder(words.iterator.map(_.length).sum + words.length)
    var prev: String = null
    words.foreach { w =>
      if (prev != null && !(isCjk(lastCp(prev)) && isCjk(firstCp(w))))
        sb.append(' ')
      sb.append(w)
      prev = w
    }
    sb.toString
  }
}

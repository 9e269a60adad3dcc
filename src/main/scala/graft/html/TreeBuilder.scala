package graft.html

import scala.collection.mutable.ArrayBuffer

/** Flattened DOM: nodes in document order. A recursive case class is not
  * Spark-encodable, so the tree is an array of (id, parent, ...) records —
  * the same flattening the reference applies to its recognition tree
  * (reference: src/ocrmypdf/models/ocr_element.py:103-235 `OcrElement`,
  * projected to pickleable records by src/ocrmypdf/pdfinfo/info.py:73-87).
  */
final class DomNode(
    val id: Int,
    val parent: Int, // -1 for root
    val depth: Int,
    val tag: String, // "#text" for text nodes
    val attrs: List[(String, String)],
    var text: String, // only for #text nodes
    // inherited ancestor-or-self facts, stamped at build time from the
    // parent (parents precede children, and `parent` never changes)
    val visible: Boolean, // no invisible subtree above or here
    val chrome: Boolean, // nav/header/footer/aside ancestry
    val inBody: Boolean, // explicit <body> ancestry
    val sibIndex: Int // 1-based index among same-tag element siblings
) {
  def attr(k: String): Option[String] =
    attrs.collectFirst { case (n, v) if n == k => v }
}

final class Dom(
    val nodes: ArrayBuffer[DomNode],
    val truncated: Boolean, // a bounded-resource guard fired
    val title: String, // <title> text, NFKC'd + whitespace-collapsed later
    // <script type="application/ld+json"> payloads, document order,
    // VERBATIM (structured data is mined downstream with JSON
    // functions — the kernel never parses it)
    val ldjson: IndexedSeq[String] = IndexedSeq.empty
)

/** Open-element-stack tree builder with specified repair rules.
  *
  * The stack discipline and bounded-depth guard mirror the reference's
  * graphics-state stack (reference:
  * src/ocrmypdf/pdfinfo/_contentstream.py:185-199 — warn past depth 32,
  * hard-stop past 128, tolerate underflow). Here: nesting deeper than
  * `maxDepth` attaches children at the cap depth (flattening) and sets the
  * truncated flag; an end tag with no matching open element is ignored; an
  * end tag matching a non-top element pops (closes) the intermediates.
  *
  * Node-count cap: past `maxNodes` the builder stops materializing nodes
  * (deterministic truncation — reference analog: image-size caps in
  * src/ocrmypdf/builtin_plugins/tesseract_ocr.py:364-382).
  */
object TreeBuilder {

  val maxDepth = 128
  val maxNodes = 200000

  val voidTags: Set[String] = Set("area", "base", "br", "col", "embed", "hr",
    "img", "input", "link", "meta", "param", "source", "track", "wbr")

  /** Tags whose start implies closing an open <p> (block-level per HTML5). */
  val closesP: Set[String] = Set("address", "article", "aside", "blockquote",
    "details", "div", "dl", "fieldset", "figcaption", "figure", "footer",
    "form", "h1", "h2", "h3", "h4", "h5", "h6", "header", "hr", "main",
    "menu", "nav", "ol", "p", "pre", "section", "table", "ul")

  /** Subtrees that never contribute visible text. `head` is included: its
    * metadata children (title handled specially) are not page content —
    * the analog of create_ocr_image masking already-texted regions
    * (reference: src/ocrmypdf/_pipeline.py:678-725). */
  val invisibleTags: Set[String] = Set("script", "style", "template",
    "noscript", "head", "iframe", "object", "svg", "math", "select",
    "datalist", "textarea") // textarea: form-WIDGET content (wiki edit
    // pages carry whole article sources there), not document text

  /** Page-chrome subtrees: the structural "margin" that both the
    * boilerplate classifier (`Block.inChrome`) and the outlink split
    * (`Link.chrome`) read from [[DomNode.chrome]]. */
  val chromeTags: Set[String] = Set("nav", "header", "footer", "aside")

  def build(tokens: ArrayBuffer[HtmlToken]): Dom = {
    val nodes = new ArrayBuffer[DomNode](tokens.length)
    var truncated = false
    val title = new java.lang.StringBuilder
    // open element stack: node ids
    var stack: List[Int] = Nil
    var stackTags: List[String] = Nil
    // per-parent per-tag sibling counters for deterministic paths
    val sibCount = new scala.collection.mutable.HashMap[(Int, String), Int]
    var inTitle = false

    def curParent: Int = if (stack.isEmpty) -1 else stack.head
    def curDepth: Int = stack.length
    def curVisible: Boolean =
      nodes.isEmpty || curParent == -1 || nodes(curParent).visible
    def curChrome: Boolean = curParent >= 0 && nodes(curParent).chrome
    def curInBody: Boolean = curParent >= 0 && nodes(curParent).inBody

    def selfInvisible(name: String, attrs: List[(String, String)]): Boolean = {
      if (invisibleTags.contains(name)) return true
      var hidden = false
      attrs.foreach { case (k, v) =>
        if (k == "hidden") hidden = true
        else if (k == "aria-hidden" && v == "true") hidden = true
        else if (k == "style") {
          // strip ALL whitespace, not just spaces: templated styles
          // write `display:\n\tnone` across lines
          val s = v.toLowerCase(java.util.Locale.ROOT)
            .filterNot(_.isWhitespace)
          if (s.contains("display:none") || s.contains("visibility:hidden"))
            hidden = true
        }
        else if (k == "type" && name == "input" && v == "hidden") hidden = true
      }
      hidden
    }

    // start tags suppressed by the depth/node caps never push — their
    // matching end tags must not popTo (and unwind) a same-named REAL
    // ancestor, so suppressions are counted per tag and end tags drain
    // the counter first
    val suppressed = scala.collection.mutable.HashMap.empty[String, Int]

    def addElement(name: String, attrs: List[(String, String)],
        push: Boolean): Unit = {
      if (nodes.length >= maxNodes) {
        truncated = true
        if (push) suppressed(name) = suppressed.getOrElse(name, 0) + 1
        return
      }
      val parent = curParent
      val key = (parent, name)
      val idx = sibCount.getOrElse(key, 0) + 1
      sibCount(key) = idx
      val vis = curVisible && !selfInvisible(name, attrs)
      val id = nodes.length
      nodes += new DomNode(id, parent, curDepth, name, attrs, null, vis,
        curChrome || chromeTags.contains(name), curInBody || name == "body",
        idx)
      if (push) {
        if (curDepth >= maxDepth) {
          truncated = true // flatten: do not push, children attach here
          suppressed(name) = suppressed.getOrElse(name, 0) + 1
        } else {
          stack = id :: stack
          stackTags = name :: stackTags
        }
      }
    }

    def popTo(name: String): Boolean = {
      // close intermediates up to and including `name` if present in stack
      if (!stackTags.contains(name)) return false
      while (stackTags.nonEmpty && stackTags.head != name) {
        stack = stack.tail; stackTags = stackTags.tail
      }
      if (stackTags.nonEmpty) { stack = stack.tail; stackTags = stackTags.tail }
      true
    }

    // Close the nearest open `target` unless a scope barrier sits above
    // it on the stack — the WHATWG shape: an open p/li/td/... closes on
    // the next sibling-starter even when INLINE formatting elements
    // (font, b, span…) are still open above it. Head-only matching would
    // let legacy unclosed-markup pages (`<p><font>…<p><font>…`) nest 2
    // deep per paragraph until the depth cap flattens the document.
    def closeIfOpen(target: String, barriers: Set[String]): Unit = {
      val idx = stackTags.indexOf(target)
      if (idx >= 0 && !stackTags.take(idx).exists(barriers.contains))
        popTo(target)
    }
    // button-scope-ish barriers for p (table cells/caption/template and
    // embedded content end the search)
    val pBarriers = Set("table", "td", "th", "caption", "template",
      "object", "svg", "math")
    val cellBarriers = Set("table")
    def nearestOf(a: String, b: String): Option[String] = {
      val ia = stackTags.indexOf(a); val ib = stackTags.indexOf(b)
      if (ia < 0 && ib < 0) None
      else if (ib < 0 || (ia >= 0 && ia < ib)) Some(a)
      else Some(b)
    }

    def impliedEndTags(name: String): Unit = {
      name match {
        case t if closesP.contains(t) =>
          closeIfOpen("p", pBarriers)
        case "li" =>
          closeIfOpen("li", Set("ul", "ol"))
        case "dd" | "dt" =>
          nearestOf("dd", "dt").foreach(closeIfOpen(_, Set("dl")))
        case "tr" =>
          nearestOf("td", "th").foreach(closeIfOpen(_, cellBarriers))
          closeIfOpen("tr", cellBarriers)
        case "td" | "th" =>
          nearestOf("td", "th").foreach(closeIfOpen(_, cellBarriers))
        case "option" =>
          closeIfOpen("option", Set("select", "datalist"))
        case _ => ()
      }
    }

    var titleDone = false
    var skippedTitle = false
    // structured-data capture: the text token(s) inside a
    // <script type="application/ld+json"> element (MIME match is
    // trimmed + case-insensitive per WHATWG MIME matching); the payload
    // is taken VERBATIM — JSON parsing is downstream work
    val ldjson = scala.collection.mutable.ArrayBuffer.empty[String]
    var inLdJson = false
    // WHATWG pre rule, at its spec location (tree construction): "if the
    // NEXT TOKEN after a <pre> start tag is a U+000A character token,
    // ignore it". Token-level, so ANY intervening token — including a
    // comment, which builds no node — cancels the strip; the previous
    // node-index formulation in Blocks could not see dropped comments
    var preNL = false
    tokens.foreach {
      case StartTag(name, attrs, selfClosing) =>
        preNL = false
        // only the FIRST non-self-closing <title> is the page title: a
        // self-closing <title/> never gets an EndTag (inTitle would stick
        // and swallow the whole body), and later <title>s (e.g. inline
        // <svg><title> accessibility labels) must not concatenate
        if (name == "title" && !selfClosing) {
          // an inline <svg><title> is an accessibility label, never the
          // page title — even when it is the FIRST title on the page
          val inForeign =
            stackTags.exists(t => t == "svg" || t == "math")
          if (!titleDone && !inForeign) inTitle = true
          else skippedTitle = true // svg/odd later titles: content dropped
        }
        impliedEndTags(name)
        // WHATWG ignores the self-closing flag on NON-void HTML elements
        // (`<div/>` stays open — honoring it would let a later </div>
        // pop a real ancestor and leak hidden content); the flag IS
        // honored in foreign content (svg/math), where `<path/>` etc.
        // are genuinely empty and would otherwise pile onto the stack
        // until the depth cap flags the whole document truncated
        val foreign = name == "svg" || name == "math" ||
          stackTags.exists(t => t == "svg" || t == "math")
        val void = voidTags.contains(name) || (selfClosing && foreign)
        addElement(name, attrs, push = !void)
        if (name == "pre" && !void) preNL = true
        inLdJson = name == "script" && !void &&
          attrs.collectFirst { case (k, v) if k == "type" => v }
            .exists(_.trim.equalsIgnoreCase("application/ld+json"))
      case EndTag(name) =>
        preNL = false
        inLdJson = false
        if (name == "title") {
          if (inTitle) { inTitle = false; titleDone = true }
          skippedTitle = false
        }
        val sup = suppressed.getOrElse(name, 0)
        if (sup > 0) suppressed(name) = sup - 1 // cap-suppressed pair
        else if (name == "br")
          // WHATWG: an end tag </br> acts as a <br> START tag (legacy
          // markup) — dropping it would merge the words it separates
          addElement("br", Nil, push = false)
        else if (!voidTags.contains(name)) {
          val matched = popTo(name)
          // WHATWG: a stray </p> with no open p inserts (and closes) an
          // implicit p element — browsers render a block boundary there;
          // ignoring it would glue the surrounding words together (the
          // same defect class as the </br> rule above)
          if (!matched && name == "p") addElement("p", Nil, push = false)
        }
      case TextRun(raw) =>
        // the pre-rule strip may leave an EMPTY text node — still added,
        // so node counts (n_nodes metric, goldens) match the previous
        // segmentation-side strip exactly
        val t = if (preNL && raw.nonEmpty && raw.charAt(0) == '\n')
          raw.substring(1) else raw
        preNL = false
        // ld+json capture is INDEPENDENT of content handling: the node
        // is still added below (script text was always a DOM node here
        // — node counts and goldens must not shift for non-ld scripts)
        if (inLdJson) { ldjson += raw; inLdJson = false }
        if (skippedTitle) () // non-first title label: not content
        else if (inTitle) title.append(t)
        else if (nodes.length < maxNodes) {
          val parent = curParent
          val vis = curVisible
          val id = nodes.length
          nodes += new DomNode(id, parent, curDepth, "#text", Nil, t, vis,
            curChrome, curInBody, 0)
        } else truncated = true
      case _: CommentTok => preNL = false
      case _: DoctypeTok => preNL = false
    }
    new Dom(nodes, truncated, title.toString, ldjson.toIndexedSeq)
  }
}

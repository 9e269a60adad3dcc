package graft.extract

import graft.html.{Dom, DomNode}
import graft.model.{Heading, TableCell}
import scala.collection.mutable

/** Structured projections of the extraction pass — the outline from the
  * classified blocks, the relational table view from the DOM's element
  * structure plus the segmenter's text blocks (the reference's analog
  * is `simplify_textboxes`, src/ocrmypdf/pdfinfo/info.py:73-87 —
  * project the heavyweight layout walk's output to the minimal typed
  * record).
  */
object Tables {

  /** The content OUTLINE: kept heading blocks as (level, text) in
    * document order. Call with the CLASSIFIED (kept) blocks — the
    * outline of the extracted main text, not of the chrome. */
  def headingsOf(dom: Dom, kept: Vector[Block]): Vector[Heading] =
    kept.iterator.filter(_.kind == "heading").map { b =>
      // kindOf maps exactly h1..h6 to "heading", so the anchor is hN
      Heading(dom.nodes(b.anchor).tag.charAt(1) - '0', b.text)
    }.toVector

  /** HTML span attribute per the spec's clamp rules (colspan 1..1000,
    * rowspan 1..65534); unparseable values and the spec's rowspan=0
    * ("to the end of the row group") both fall back to 1 — the
    * bounded, deterministic simplification. */
  private def spanAttr(nd: DomNode, name: String, cap: Int): Int =
    nd.attr(name).map { v =>
      val t = v.trim
      var i = 0
      var acc = 0
      while (i < t.length && t.charAt(i).isDigit && acc <= cap) {
        acc = acc * 10 + (t.charAt(i) - '0')
        i += 1
      }
      if (i == 0 || acc < 1) 1 else math.min(acc, cap)
    }.getOrElse(1)

  /** Relational table view: every VISIBLE td/th element with a table
    * ancestor, with 0-based (tbl, row, col) GRID ordinals in document
    * order. Ordinals come from the ELEMENT structure — counting every
    * cell element, empty or not, and honoring colspan/rowspan grid
    * occupancy (a spanning cell advances the cursor by its colspan and
    * blocks its columns for the next rowspan−1 rows) — so the
    * header/data column alignment a tabular consumer relies on
    * survives empty cells AND spans. A colspanned cell is emitted once
    * at its leftmost column: values under its further columns have no
    * key of their own in the header-join view (one key per column).
    * Rows are the nearest `tr` ancestor; a cell with no `tr` (markup
    * soup directly under table/tbody) forms a row keyed by its direct
    * parent. Cell text is joined in from the segmenter's blocks by
    * their anchor element's nearest td/th — NFKC'd, word-joined; a cell
    * split by nested structure re-joins its runs with the segmenter's
    * CJK-aware rule, and nested block content (<p>/<ul>/hN inside a
    * td) joins its cell. Cells with no table ancestor are not rows of
    * any table and are omitted (their text still flows in the
    * text/blocks channel).
    *
    * Pass the PRE-classification blocks: tabular data is wanted even
    * when link/text density drops the table from the main text. The
    * element pass allocates nothing until a visible cell is seen —
    * the common no-table page pays one tag scan. */
  def cellsOf(dom: Dom, blocks: Vector[Block]): Vector[TableCell] = {
    val nodes = dom.nodes
    val n = nodes.length
    // allocation-free guard for the common case: no visible cell
    var hasCell = false
    var g = 0
    while (g < n && !hasCell) {
      val t = nodes(g).tag
      if ((t == "td" || t == "th") && nodes(g).visible) hasCell = true
      g += 1
    }
    if (!hasCell) return Vector.empty
    // nearest table / tr / td-or-th ancestor-or-self per element
    // (parents precede children)
    val tblAnc = new Array[Int](n)
    val trAnc = new Array[Int](n)
    val cellAnc = new Array[Int](n)
    val tableOrd = mutable.HashMap.empty[Int, Int] // table id -> ordinal
    val rowOrd = mutable.HashMap.empty[Long, Int] // (tbl,rowKey) -> ordinal
    val rowsInTable = mutable.HashMap.empty[Int, Int]
    val cursorInRow = mutable.HashMap.empty[Long, Int]
    // rowspan occupancy per table: col -> LAST row ordinal it blocks
    // (absolute, so no per-transition decrement bookkeeping)
    val carryByTable = mutable.HashMap.empty[Int, mutable.HashMap[Int, Int]]
    val out = mutable.ArrayBuffer.empty[TableCell]
    val cellIdx = mutable.HashMap.empty[Int, Int] // cell element id -> out
    var i = 0
    while (i < n) {
      val nd = nodes(i)
      if (nd.tag != "#text") {
        val p = nd.parent
        tblAnc(i) = if (nd.tag == "table") i else if (p >= 0) tblAnc(p) else -1
        trAnc(i) = if (nd.tag == "tr") i else if (p >= 0) trAnc(p) else -1
        val isCell = nd.tag == "td" || nd.tag == "th"
        cellAnc(i) = if (isCell) i else if (p >= 0) cellAnc(p) else -1
        if (isCell && nd.visible && p >= 0 && tblAnc(p) >= 0) {
          val tblId = tblAnc(p)
          // the cell's row: nearest tr BELOW its table (a tr outside
          // the cell's own table must not group cells of the inner
          // one); fall back to the direct parent for tr-less soup
          val trId = trAnc(p)
          val rowId = if (trId >= 0 && tblAnc(trId) == tblId) trId else p
          val rowKey = (tblId.toLong << 32) | rowId.toLong
          val tbl = tableOrd.getOrElseUpdate(tblId, tableOrd.size)
          val carry = carryByTable.getOrElseUpdate(tblId,
            mutable.HashMap.empty[Int, Int])
          val row = rowOrd.getOrElseUpdate(rowKey, {
            val r = rowsInTable.getOrElse(tblId, 0)
            rowsInTable(tblId) = r + 1
            r
          })
          // grid placement: skip columns a prior rowspan still blocks
          var cur = cursorInRow.getOrElse(rowKey, 0)
          while (carry.get(cur).exists(_ >= row)) cur += 1
          val colspan = spanAttr(nd, "colspan", 1000)
          val rowspan = spanAttr(nd, "rowspan", 65534)
          if (rowspan > 1) {
            var cc = cur
            while (cc < cur + colspan) { carry(cc) = row + rowspan - 1; cc += 1 }
          }
          cursorInRow(rowKey) = cur + colspan
          cellIdx(i) = out.length
          out += TableCell(tbl, row, cur, header = nd.tag == "th", text = "")
        }
      }
      i += 1
    }
    // join the segmenter's text in by the nearest td/th of the block's
    // anchor — not only kind=cell blocks: a <p>/<ul>/<h3> nested
    // inside a td is that cell's text too (its nearest BLOCK ancestor
    // is the inner element, so its kind is para/list_item/heading).
    // Runs split by nested structure re-join with the CJK-aware rule.
    blocks.foreach { b =>
      if (b.anchor >= 0) cellIdx.get(cellAnc(b.anchor)).foreach { idx =>
        val prev = out(idx)
        val sep = if (prev.text.nonEmpty && b.text.nonEmpty &&
          Blocks.isCjk(Blocks.lastCp(prev.text)) &&
          Blocks.isCjk(Blocks.firstCp(b.text))) "" else " "
        out(idx) = prev.copy(text =
          if (prev.text.isEmpty) b.text else prev.text + sep + b.text)
      }
    }
    out.toVector
  }
}

package graft.extract

/** Run-length compression of page-number sets, used for skip placeholders
  * in the ordered merge (reference: src/ocrmypdf/_pipeline.py:1274-1304
  * `enumerate_compress_ranges`, consumed by `merge_sidecars` :1307-1327 —
  * skipped pages yield "[OCR skipped on page(s) i-j]" markers instead of
  * silently disappearing). */
object Ranges {

  /** Sorted distinct page numbers → compressed range strings
    * ("3", "5-7"). */
  def compress(pages: Seq[Int]): Seq[String] = {
    if (pages.isEmpty) return Nil
    val sorted = pages.distinct.sorted
    val out = Seq.newBuilder[String]
    var start = sorted.head
    var prev = sorted.head
    def emit(): Unit =
      out += (if (start == prev) s"$start" else s"$start-$prev")
    sorted.tail.foreach { p =>
      if (p == prev + 1) prev = p
      else { emit(); start = p; prev = p }
    }
    emit()
    out.result()
  }

  /** Parse a page-range spec like "1-3,5,7-end" into a 1-based page set —
    * the reference's `--pages` grammar (reference: src/ocrmypdf/_options.py:
    * 72-139, with the `end` alias deferred until the page count is known,
    * _pipelines/_common.py:349-356). Malformed fragments are skipped
    * (specified tolerance). */
  def parse(spec: String, totalPages: Int): Set[Int] = {
    if (spec == null || spec.isEmpty) return Set.empty
    def bound(s: String): Option[Int] = s.trim match {
      case "end" => Some(totalPages)
      case t if t.nonEmpty && t.forall(_.isDigit) =>
        scala.util.Try(t.toInt).toOption
      case _ => None
    }
    spec.split(',').iterator.flatMap { frag =>
      frag.split('-') match {
        case Array(a) => bound(a).toSeq
        case Array(a, b) =>
          (bound(a), bound(b)) match {
            case (Some(lo), Some(hi)) if lo <= hi => lo to hi
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }
    }.filter(p => p >= 1 && p <= totalPages).toSet
  }

  /** The same grammar as `parse`, compiled to merged inclusive 1-based
    * intervals — the pushdown-friendly form (an OR-of-BETWEENs predicate
    * instead of a membership set; row-group statistics can skip whole
    * intervals). Sorted, non-overlapping, clamped to [1, totalPages]. */
  def intervals(spec: String, totalPages: Int): Seq[(Int, Int)] = {
    if (spec == null || spec.isEmpty) return Nil
    def bound(s: String): Option[Int] = s.trim match {
      case "end" => Some(totalPages)
      case t if t.nonEmpty && t.forall(_.isDigit) =>
        scala.util.Try(t.toInt).toOption
      case _ => None
    }
    val raw = spec.split(',').iterator.flatMap { frag =>
      frag.split('-') match {
        case Array(a) => bound(a).map(p => (p, p)).toSeq
        case Array(a, b) =>
          (bound(a), bound(b)) match {
            case (Some(lo), Some(hi)) if lo <= hi => Seq((lo, hi))
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }
    }.map { case (lo, hi) => (math.max(1, lo), math.min(totalPages, hi)) }
      .filter { case (lo, hi) => lo <= hi }
      .toSeq.sorted
    // merge overlapping/adjacent intervals — compare in LONG: with
    // phi == Int.MaxValue (open-ended `end` at max total), phi + 1
    // wraps negative and two overlapping end-anchored intervals would
    // escape the merge, violating the non-overlapping contract
    raw.foldLeft(List.empty[(Int, Int)]) {
      case ((plo, phi) :: rest, (lo, hi)) if lo.toLong <= phi.toLong + 1 =>
        (plo, math.max(phi, hi)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }
}

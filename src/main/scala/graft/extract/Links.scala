package graft.extract

import graft.html.{Dom, DomNode}
import graft.model.Link

/** Outlink extraction + RFC 3986 §5 reference resolution.
  *
  * The reference resolves every sidecar/intermediate path against its
  * working directory before any stage consumes it
  * (reference: src/ocrmypdf/_pipeline.py:1307-1327 merge_sidecars walks
  * expected names; src/ocrmypdf/api.py:325-344 resolves user paths) — the
  * web-page twin of that "relative name → absolute identity" step is href
  * resolution against the page URL, which every downstream link consumer
  * (host graph, frontier dedup, URL canonicalization) depends on.
  *
  * Scope (documented contract, mirrored by the unit suite):
  *  - only http(s) results are emitted; `mailto:`/`javascript:`/`data:`
  *    and other non-navigable schemes are dropped;
  *  - fragment-only hrefs (`#top`, "") are same-document references,
  *    not edges — dropped; fragments on real targets are stripped;
  *  - the document's FIRST `<base href>` rebases resolution (WHATWG:
  *    only the first base element with an href attribute is honored),
  *    itself resolved against the page URL;
  *  - dot segments are removed per RFC 3986 §5.2.4; excess `..` above
  *    the root is discarded (RFC behavior);
  *  - only VISIBLE anchors are walked — hidden-subtree masking is the
  *    same gate the text path applies (reference: create_ocr_image masks
  *    already-texted regions, src/ocrmypdf/_pipeline.py:640-676);
  *  - authority case/port are preserved as written: resolution is not
  *    canonicalization ([[graft.ops.Urls]] owns canon; consumers that
  *    need host identity lowercase at the query grain).
  */
object Links {

  /** Parsed absolute http(s) URL, fragment already stripped.
    * `query` includes its leading '?' when present (so format is a plain
    * concatenation and an empty query costs nothing). */
  final case class Base(scheme: String, authority: String, path: String,
      query: String)

  /** Parse an absolute http(s) URL. None for anything else (no '://',
    * non-http scheme, empty authority). An authority-only URL gets the
    * RFC 3986 §6.2.3 empty-path normalization to "/". */
  def parseAbs(url: String): Option[Base] = {
    val i = url.indexOf("://")
    if (i <= 0) return None
    val scheme = url.substring(0, i).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return None
    var rest = url.substring(i + 3)
    val hash = rest.indexOf('#')
    if (hash >= 0) rest = rest.substring(0, hash)
    var aEnd = rest.length
    var j = 0
    while (j < aEnd) { // authority ends at the first '/' or '?'
      val c = rest.charAt(j)
      if (c == '/' || c == '?') { aEnd = j } else j += 1
    }
    val authority = rest.substring(0, aEnd)
    if (authority.isEmpty) return None
    val tail = rest.substring(aEnd)
    val qm = tail.indexOf('?')
    val (path, query) =
      if (qm >= 0) (tail.substring(0, qm), tail.substring(qm))
      else (tail, "")
    Some(Base(scheme, authority, if (path.isEmpty) "/" else path, query))
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    var in = path
    val out = new java.lang.StringBuilder(path.length)
    def dropLastSegment(): Unit = {
      var j = out.length - 1
      while (j >= 0 && out.charAt(j) != '/') j -= 1
      out.setLength(if (j < 0) 0 else j)
    }
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { dropLastSegment(); in = "/" + in.substring(4) }
      else if (in == "/..") { dropLastSegment(); in = "/" }
      else if (in == "." || in == "..") in = ""
      else {
        // move the first segment (with its leading '/', if any) to output
        var j = if (in.startsWith("/")) 1 else 0
        while (j < in.length && in.charAt(j) != '/') j += 1
        out.append(in, 0, j)
        in = in.substring(j)
      }
    }
    out.toString
  }

  private def format(b: Base): String =
    b.scheme + "://" + b.authority +
      (if (b.path.isEmpty) "/" else b.path) + b.query

  private def splitQuery(s: String): (String, String) = {
    val i = s.indexOf('?')
    if (i >= 0) (s.substring(0, i), s.substring(i)) else (s, "")
  }

  private def hasScheme(s: String): Boolean = {
    if (s.isEmpty || !s.charAt(0).isLetter) return false
    var j = 1
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == ':') return true
      if (!(c.isLetterOrDigit || c == '+' || c == '-' || c == '.')) return false
      j += 1
    }
    false
  }

  /** Resolve one href against `base`. None = not an edge (fragment-only,
    * empty, or a non-http(s) scheme). WHATWG URL parsing strips leading/
    * trailing ASCII whitespace and ALL interior tab/LF/CR before any
    * other processing — mirrored here so wrapped attribute values
    * resolve like browsers resolve them. */
  def resolve(base: Base, rawHref: String): Option[String] = {
    val cleaned = rawHref.trim.filterNot(c => c == '\t' || c == '\n' || c == '\r')
    val hash = cleaned.indexOf('#')
    val h = if (hash >= 0) cleaned.substring(0, hash) else cleaned
    if (h.isEmpty) None // fragment-only / empty: same-document, not an edge
    else if (hasScheme(h)) parseAbs(h).map(format) // absolute (non-http → None)
    else if (h.startsWith("//")) parseAbs(base.scheme + ":" + h).map(format)
    else if (h.startsWith("/")) {
      val (p, q) = splitQuery(h)
      Some(format(base.copy(path = removeDotSegments(p), query = q)))
    } else if (h.startsWith("?")) {
      Some(format(base.copy(query = h)))
    } else {
      val dir = base.path.substring(0, base.path.lastIndexOf('/') + 1)
      val (p, q) = splitQuery(h)
      Some(format(base.copy(path = removeDotSegments(dir + p), query = q)))
    }
  }

  /** Effective resolution base: the document's first `<base href>`
    * (WHATWG: only the first base element with an href is honored),
    * itself resolved against the page URL; a non-http(s)/unparseable
    * base falls back to the page URL. ONE owner — [[fromDom]],
    * [[canonicalOf]] and [[refreshTarget]] all resolve against it. */
  def effectiveBase(dom: Dom, pageBase: Base): Base = dom.nodes
    .find(n => n.tag == "base" && n.attr("href").isDefined)
    .flatMap(n => resolve(pageBase, n.attr("href").get))
    .flatMap(parseAbs)
    .getOrElse(pageBase)

  /** First `<link rel~="canonical" href>` target, resolved — the
    * search-engine dedup signal. rel is an HTML space-separated token
    * list (ASCII whitespace incl. LF/CR/FF — wrapped attributes must
    * still match), matched case-insensitively. A link inside an
    * explicit `<body>` is IGNORED (search engines reject body
    * canonicals precisely because user-posted markup could otherwise
    * hijack canonical-keyed dedup); head-less documents honor a
    * top-level link since this builder synthesizes no head/body.
    * '' when absent or unresolvable. `eff` is the page's
    * [[effectiveBase]]. The body test reads [[DomNode.inBody]], the
    * guard [[metasOf]] and [[feedsOf]] share. */
  def canonicalOf(dom: Dom, eff: Base): String =
    dom.nodes.find { n =>
      n.tag == "link" && n.attr("href").isDefined &&
        n.attr("rel").exists(_.split("\\s+").exists(
          _.equalsIgnoreCase("canonical"))) && !n.inBody
    }.flatMap(n => resolve(eff, n.attr("href").get)).getOrElse("")

  /** Head `<meta>` pairs in document order (the CC-WAT `Head → Metas`
    * analog; reference twin: the docinfo/XMP metadata scan feeding
    * metadata_fixup, src/ocrmypdf/_metadata.py:260-299 — named
    * key/value page metadata surfaced for downstream policy, never
    * interpreted by the extractor itself).
    *
    * Rule (mirrored by the unit suite): key = the `name` attribute,
    * else the `property` attribute (OpenGraph), trimmed + ASCII
    * case-folded; the element must carry BOTH a non-empty key and a
    * `content` attribute; `content` stays verbatim. Metas inside an
    * explicit `<body>` are rejected (same guard as body canonicals);
    * `http-equiv` pragmas and `<meta charset>` carry no name/property
    * and are naturally excluded. Output size is bounded by the DOM
    * node cap — no separate limit, nothing silently dropped. */
  def metasOf(dom: Dom): Vector[graft.model.MetaTag] =
    dom.nodes.iterator.filter(n => n.tag == "meta" && !n.inBody)
      .flatMap { n =>
        // the fallback applies per FOLDED key: an empty/whitespace
        // `name` must not mask a usable `property` (og tags next to a
        // blank name attribute are still page metadata)
        def folded(a: String) = n.attr(a)
          .map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
        val key = folded("name").orElse(folded("property"))
        (key, n.attr("content")) match {
          case (Some(k), Some(c)) => Some(graft.model.MetaTag(k, c))
          case _ => None
        }
      }.toVector

  /** Feed autodiscovery (WHATWG/RSS convention: head
    * `<link rel="alternate" type="application/rss+xml|application/
    * atom+xml" href>`): resolved feed URLs in document order — the
    * page-side pointer the feed discovery channel
    * ([[graft.ops.Feeds]]) starts from, completing robots → sitemap →
    * feed. rel is the same case-insensitive token list as
    * [[canonicalOf]]; the type attribute is trimmed + case-folded
    * (MIME matching, like the ld+json capture); body links are
    * rejected under the shared [[DomNode.inBody]] guard; a rel=alternate
    * without a feed MIME (e.g. a mobile text/html alternate) is not a
    * feed. Unresolvable hrefs are dropped. */
  def feedsOf(dom: Dom, eff: Base): Vector[String] =
    dom.nodes.iterator.filter { n =>
      n.tag == "link" && !n.inBody &&
        n.attr("rel").exists(_.split("\\s+").exists(
          _.equalsIgnoreCase("alternate"))) &&
        n.attr("type").exists { t =>
          val tt = t.trim.toLowerCase(java.util.Locale.ROOT)
          tt == "application/rss+xml" || tt == "application/atom+xml"
        }
    }.flatMap(n => n.attr("href").flatMap(h => resolve(eff, h))).toVector

  /** Meta-refresh redirect target: the first
    * `<meta http-equiv="refresh">` whose content parses under the
    * WHATWG "shared declarative refresh steps": optional whitespace, a
    * digit/dot run, then a separator (whitespace, ';' or ','), optional
    * `url` keyword + '=', and the target — a leading quote cuts at the
    * NEXT matching quote if present, else runs to the end; a remainder
    * that is not a `url=` clause IS the target. '' when absent,
    * clause-less (refresh to self is not an edge), or unresolvable. */
  def refreshTarget(dom: Dom, eff: Base): String =
    dom.nodes.find(n => isRefresh(n) && n.attr("content").isDefined)
      .flatMap(n => parseRefreshUrl(n.attr("content").get))
      .flatMap(v => resolve(eff, v)).getOrElse("")

  /** `<meta http-equiv="refresh">` (value case-insensitive): the one
    * test for a refresh pragma, shared by [[refreshTarget]] and the
    * kernel's redirect-shell probe. */
  def isRefresh(n: DomNode): Boolean =
    n.tag == "meta" &&
      n.attr("http-equiv").exists(_.equalsIgnoreCase("refresh"))

  /** The WHATWG shared-declarative-refresh content parse (url part
    * only). None when the content carries no navigable target. */
  private[graft] def parseRefreshUrl(content: String): Option[String] = {
    var i = 0
    val len = content.length
    def skipWs(): Unit = {
      while (i < len && Character.isWhitespace(content.charAt(i))) i += 1
    }
    skipWs()
    val numStart = i
    while (i < len && (content.charAt(i).isDigit || content.charAt(i) == '.'))
      i += 1
    if (i == numStart) return None // no time value → invalid declaration
    if (i >= len) return None // bare number: refresh-to-self, not an edge
    // separator: whitespace and/or a single ';' or ','
    val c = content.charAt(i)
    if (c != ';' && c != ',' && !Character.isWhitespace(c)) return None
    skipWs()
    if (i < len && (content.charAt(i) == ';' || content.charAt(i) == ','))
      i += 1
    skipWs()
    if (i >= len) return None
    // optional url= prefix; a remainder that is NOT such a clause is
    // itself the target (the spec's non-'url=' branch)
    if (i + 3 <= len && content.substring(i, i + 3).equalsIgnoreCase("url")) {
      val save = i
      i += 3
      skipWs()
      if (i < len && content.charAt(i) == '=') { i += 1; skipWs() }
      else i = save // 'url' was the start of the target itself
    }
    if (i >= len) return None
    val q = content.charAt(i)
    val v =
      if (q == '"' || q == '\'') {
        val close = content.indexOf(q, i + 1)
        if (close > i) content.substring(i + 1, close)
        else content.substring(i + 1) // unterminated: to the end
      } else content.substring(i).trim
    if (v.isEmpty) None else Some(v)
  }

  /** Walk the flattened DOM once (parents precede children) collecting
    * every visible anchor's resolved outlink against the page's
    * [[effectiveBase]], in document order. `Link.chrome` is the
    * anchor's [[DomNode.chrome]], the flag `Block.inChrome` reads. */
  def fromDom(dom: Dom, effBase: Base): Vector[Link] = {
    val nodes = dom.nodes
    val n = nodes.length
    // nearest enclosing EMITTED anchor's ordinal per node (-1 none):
    // visible text under an anchor accumulates into that anchor's
    // buffer in document order, the same single pass
    val linkOrd = new Array[Int](n)
    val acc =
      scala.collection.mutable.ArrayBuffer[(String, String, Boolean)]()
    val texts =
      scala.collection.mutable.ArrayBuffer[java.lang.StringBuilder]()
    var i = 0
    while (i < n) {
      val nd = nodes(i)
      val p = nd.parent
      if (nd.tag != "#text") {
        linkOrd(i) = if (p >= 0) linkOrd(p) else -1
        if (nd.tag == "a" && nd.visible) nd.attr("href").foreach { raw =>
          resolve(effBase, raw).foreach { res =>
            acc += ((raw, res, nd.chrome))
            texts += new java.lang.StringBuilder
            linkOrd(i) = acc.length - 1
          }
        }
      } else if (nd.visible) {
        val ord = if (p >= 0) linkOrd(p) else -1
        if (ord >= 0) { texts(ord).append(Blocks.nfkc(nd.text)); () }
      }
      i += 1
    }
    acc.iterator.zipWithIndex.map { case ((raw, res, chrome), k) =>
      Link(k, raw, res, chrome, collapseAnchor(texts(k).toString))
    }.toVector
  }

  /** Anchor-text normalization: whitespace runs collapse to single
    * spaces (Character.isWhitespace — the kernel's segmentation
    * predicate, not regex \\s), then a 256-code-point cap bounds the
    * column against pathological whole-page anchors. Deterministic;
    * fragments from adjacent inline children concatenate WITHOUT an
    * injected space (render semantics: `foo<b>bar</b>` is "foobar"). */
  private[graft] def collapseAnchor(s: String): String = {
    val sb = new java.lang.StringBuilder(math.min(s.length, 300))
    var i = 0
    var pending = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isWhitespace(cp)) pending = sb.length > 0
      else {
        if (pending) { sb.append(' '); pending = false }
        sb.appendCodePoint(cp)
        ()
      }
      i += Character.charCount(cp)
    }
    val out = sb.toString
    if (out.codePointCount(0, out.length) <= 256) out
    else out.substring(0, out.offsetByCodePoints(0, 256)).trim
  }
}

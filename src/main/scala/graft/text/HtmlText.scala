package graft.text

import graft.core.Py

/** Single-pass HTML → readable-text extraction.
  *
  * Reproduces the observable composition of the reference's `clean_html` +
  * `extract_readable_text` + `preprocess_text`
  * (reference `web_scraper_pipeline.py:72-99`):
  *
  *  1. every `script/style/noscript/header/footer/nav/aside` subtree is
  *     removed (`:76` decompose);
  *  2. elements matching the whitelist `h1..h6, p, li` are visited in
  *     document order — INCLUDING nested matches: bs4 `find_all` returns an
  *     `li` nested inside another `li`'s subtree as its own hit, so its text
  *     appears twice in the output (`:88`, quirk pinned in SURVEY.md §2.1-R5);
  *  3. per element, `get_text(strip=True, separator=" ")`: every descendant
  *     text node is Python-stripped, empties dropped, survivors joined with a
  *     single space (`:89`);
  *  4. empty results dropped, elements joined with "\n" (`:90-92`);
  *  5. `preprocess_text`: `[ \t]+` → " ", `\n{2,}` → "\n", Python strip
  *     (`:95-99`).
  *
  * The reference parses with lxml TWICE (clean re-serializes `str(soup)` then
  * extract re-parses). Since `str(soup)` of an lxml tree re-parses to the same
  * tree, a single pass is output-equivalent (SURVEY.md §4.1); the rebuild does
  * all five steps in ONE scan of the decoded html with no DOM and no
  * intermediate strings: tag names are matched in place, text nodes are
  * decoded, stripped and collapsed by index into their elements' buffers.
  * O(n) time, O(depth) extra space per row, which is what lets this run
  * inside whole-stage codegen over 100 TB of html bytes. The extract-then-
  * regex composition it replaces is kept as the test-scope reference
  * (`HtmlTextReference`), and a property spec holds the two byte-equal.
  *
  * Scope: the well-formed HTML subset produced by [[graft.fixtures.PageGen]]
  * (FIXTURES.md §2). bs4+lxml error recovery on arbitrary broken HTML is
  * deliberately out of scope (SURVEY.md §7.3).
  */
object HtmlText {

  // precompiled (String.replaceAll would compile per call; this runs per
  // extracted anchor)
  private val AnyWhitespace = java.util.regex.Pattern.compile("\\s+")

  /** Tag names matched in place, grouped by index: [0, 3) raw-text (also
    * stripped), [0, 7) stripped subtrees, [7, 15) the whitelist, [15, 28)
    * void elements (never take content), then common tags with no rule of
    * their own, listed so that their names need no allocation either.
    */
  private val KnownTags: Array[String] = Array(
    "script", "style", "noscript", "header", "footer", "nav", "aside",
    "h1", "h2", "h3", "h4", "h5", "h6", "p", "li",
    "br", "hr", "img", "meta", "link", "input", "area", "base", "col",
    "embed", "source", "track", "wbr",
    "a", "b", "i", "em", "strong", "span", "div", "ul", "ol",
    "html", "head", "body", "title")

  @inline private def isRawText(k: Int): Boolean = k >= 0 && k < 3
  @inline private def isStripped(k: Int): Boolean = k >= 0 && k < 7
  @inline private def isWhitelisted(k: Int): Boolean = k >= 7 && k < 15
  @inline private def isVoid(k: Int): Boolean = k >= 15 && k < 28

  /** [[KnownTags]] index of the ASCII name `html[from, to)` under ASCII case
    * folding (= `toLowerCase(Locale.ROOT)` on ASCII); −1 if unknown or
    * not ASCII.
    */
  private def knownTag(html: String, from: Int, to: Int): Int = {
    var k = 0
    while (k < KnownTags.length) {
      val name = KnownTags(k)
      if (name.length == to - from) {
        var j = 0
        var same = true
        while (same && j < name.length) {
          val c = html.charAt(from + j)
          val t = name.charAt(j)
          same = c == t || (c >= 'A' && c <= 'Z' && c + 32 == t)
          j += 1
        }
        if (same) return k
      }
      k += 1
    }
    -1
  }

  /** Start of the name of the tag at `html(lt) == '<'`: after an optional '/'. */
  private def nameStart(html: String, lt: Int): Int =
    if (html.charAt(lt + 1) == '/') lt + 2 else lt + 1

  /** End of a tag name starting at `from` in a tag ending at `gt`: the first
    * ' ', '\t', '\n' or '\r', or a final '/'.
    */
  private def nameEnd(html: String, from: Int, gt: Int): Int = {
    val end = if (gt > from && html.charAt(gt - 1) == '/') gt - 1 else gt
    var i = from
    while (i < end && { val c = html.charAt(i); c != ' ' && c != '\t' && c != '\n' && c != '\r' }) i += 1
    i
  }

  /** `toLowerCase(Locale.ROOT)` of the name `html[from, to)`; a known
    * ASCII name is the shared [[KnownTags]] instance, not a copy.
    */
  private def lowerName(html: String, from: Int, to: Int, known: Int): String =
    if (known >= 0) KnownTags(known) else html.substring(from, to).toLowerCase(java.util.Locale.ROOT)

  /** Lower-cased name of the tag `html[lt, gt]`. */
  private def tagName(html: String, lt: Int, gt: Int): String = {
    val from = nameStart(html, lt)
    val to = nameEnd(html, from, gt)
    lowerName(html, from, to, knownTag(html, from, to))
  }

  @inline private def isClosing(html: String, lt: Int): Boolean = html.charAt(lt + 1) == '/'
  @inline private def isSelfClosed(html: String, lt: Int, gt: Int): Boolean =
    gt > lt + 1 && html.charAt(gt - 1) == '/'

  /** Named entities: the XML five, nbsp, and the common web-text set a
    * Common-Crawl extractor meets constantly (values = Python
    * `html.unescape` for the same names — parity with the reference's bs4
    * output). Numeric forms (`&#8212;` / `&#x2014;`) decode separately.
    */
  private val Entities: Array[(String, Char)] = Array(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"', "apos" -> '\'',
    "nbsp" -> '\u00a0',
    "mdash" -> '—', "ndash" -> '–', "hellip" -> '…',
    "lsquo" -> '‘', "rsquo" -> '’',
    "ldquo" -> '“', "rdquo" -> '”',
    "copy" -> '©', "reg" -> '®', "trade" -> '™',
    "deg" -> '°', "middot" -> '·', "bull" -> '•',
    "laquo" -> '«', "raquo" -> '»',
    "times" -> '×', "divide" -> '÷', "plusmn" -> '±',
    "frac12" -> '½', "frac14" -> '¼', "sup2" -> '²',
    "sup3" -> '³', "micro" -> 'µ', "para" -> '¶',
    "sect" -> '§', "dagger" -> '†', "euro" -> '€',
    "pound" -> '£', "yen" -> '¥', "cent" -> '¢',
    "szlig" -> 'ß', "eacute" -> 'é', "egrave" -> 'è',
    "agrave" -> 'à', "uuml" -> 'ü', "ouml" -> 'ö',
    "auml" -> 'ä', "ntilde" -> 'ñ', "ccedil" -> 'ç')

  /** The entity reference at `s(amp) == '&'` in text ending at `end`: its
    * code point and the index just past its ';', packed as
    * `(codePoint << 32) | next`, or −1 when the '&' is literal. At most 7
    * chars may sit between '&' and the first ';'; numeric references parse
    * with `Integer.parseInt` and must not be negative.
    */
  private def entityAt(s: String, amp: Int, end: Int): Long = {
    val limit = math.min(end, amp + 9)
    var semi = amp + 1
    while (semi < limit && s.charAt(semi) != ';') semi += 1
    if (semi >= limit) return -1L
    val len = semi - amp - 1
    var k = 0
    while (k < Entities.length) {
      val (name, c) = Entities(k)
      if (name.length == len && s.regionMatches(amp + 1, name, 0, len))
        return (c.toLong << 32) | (semi + 1)
      k += 1
    }
    if (len == 0 || s.charAt(amp + 1) != '#') return -1L
    val hex = len > 1 && (s.charAt(amp + 2) == 'x' || s.charAt(amp + 2) == 'X')
    val code =
      try Integer.parseInt(s.substring(if (hex) amp + 3 else amp + 2, semi), if (hex) 16 else 10)
      catch { case _: NumberFormatException => -1 }
    if (code < 0) -1L else (code.toLong << 32) | (semi + 1)
  }

  private[graft] def decodeEntities(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (amp >= 0) {
      sb.append(s, i, amp)
      val e = entityAt(s, amp, s.length)
      if (e < 0) { sb.append('&'); i = amp + 1 }
      else { sb.appendCodePoint((e >>> 32).toInt); i = e.toInt }
      amp = s.indexOf('&', i)
    }
    sb.append(s, i, s.length).toString
  }

  /** Index of the tag-closing '>' at or after `from`, skipping quoted
    * attribute values — a '>' inside `title="a>b"` does not end the tag
    * (the HTML5 tokenizer's attribute-value states). −1 if none.
    */
  private def tagEnd(html: String, from: Int): Int = {
    var i = from
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '"' || c == '\'') {
        val end = html.indexOf(c, i + 1)
        if (end < 0) return -1
        i = end + 1
      } else if (c == '>') return i
      else i += 1
    }
    -1
  }

  /** Raw-text elements: their content is TEXT to the tokenizer (HTML5
    * script/style data states), so `<p>` or a stray quote inside a JS
    * string must not be tokenized as markup — the element ends only at its
    * literal close tag.
    */
  private val RawTextTags: Set[String] = Set("script", "style", "noscript")

  /** Index JUST PAST the matching `</name …>` close tag at or after `from`;
    * −1 if the document ends first (caller treats the rest as the element).
    */
  private def closeOf(html: String, from: Int, name: String): Int = {
    var i = from
    val n = html.length
    while (i < n) {
      val lt = html.indexOf("</", i)
      if (lt < 0) return -1
      if (html.regionMatches(true, lt + 2, name, 0, name.length)) {
        val after = lt + 2 + name.length
        if (after < n && (html.charAt(after) == '>' || Character.isWhitespace(html.charAt(after)))) {
          val gt = html.indexOf('>', after)
          return if (gt < 0) -1 else gt + 1
        }
      }
      i = lt + 2
    }
    -1
  }

  /** Extract readable text: `preprocess_text(extract_readable_text(clean_html(html)))`
    * in one scan. This output is the per-row invariant column
    * (`BASELINE.json` input_hint: "byte-identical extracted text per url").
    */
  def extractReadable(html: String): String =
    if (html == null) null else new ReadableScan(html).run()

  /** One scan of `html` producing the extracted, preprocessed text.
    *
    * Tag names are matched in place (ASCII case folding; a non-ASCII name
    * is lower-cased with `Locale.ROOT` as a string). Each text node is
    * entity-decoded, Python-stripped and whitespace-collapsed by index
    * straight into the innermost open whitelisted element's buffer, then
    * copied to the enclosing ones. `preprocess_text` (`:95-99`: `[ \t]+` →
    * " ", `\n{2,}` → "\n", then strip) needs no pass of its own: every
    * element's text starts and ends with a non-space char, so its runs never
    * cross the " " and "\n" joins and the final strip has nothing to remove;
    * collapsing each stripped node on the way in gives the same bytes.
    */
  private final class ReadableScan(html: String) {
    private val n = html.length
    private var stripDepth = 0 // >0 → inside a removed subtree
    // lower-cased names of the open elements
    private var names = new Array[String](16)
    private var depth = 0
    // open whitelisted elements (innermost last), and the closed non-empty
    // ones in open order
    private val open = new scala.collection.mutable.ArrayBuffer[Collector](4)
    private val done = new scala.collection.mutable.ArrayBuffer[Collector](16)
    private var order = 0

    def run(): String = {
      var i = 0
      while (i < n) {
        val lt = html.indexOf('<', i)
        if (lt < 0) { text(i, n); i = n }
        else {
          if (lt > i) text(i, lt)
          i = if (lt + 1 < n && html.charAt(lt + 1) == '!') skipMarkup(lt) else tag(lt)
        }
      }
      // close any still-open elements (unclosed trailing elements)
      while (open.nonEmpty) closeCollector()
      val out = new CharBuf(n / 2)
      for (c <- done) {
        if (out.length > 0) out.add('\n')
        out.add(c.text.chars, 0, c.text.length)
      }
      out.toString
    }

    /** Comment, CDATA section (its content may hold '>' and tag-shaped
      * text that must not be tokenized, FIXTURES.md §2) or doctype.
      */
    private def skipMarkup(lt: Int): Int =
      if (html.startsWith("<!--", lt)) past(html.indexOf("-->", lt + 4), 3)
      else if (html.startsWith("<![CDATA[", lt)) past(html.indexOf("]]>", lt + 9), 3)
      else past(html.indexOf('>', lt), 1)

    private def past(end: Int, len: Int): Int = if (end < 0) n else end + len

    private def tag(lt: Int): Int = {
      val gt = tagEnd(html, lt + 1)
      if (gt < 0) return n
      val from = nameStart(html, lt)
      val to = nameEnd(html, from, gt)
      if (to == from) return gt + 1 // stray '<>'
      var kind = knownTag(html, from, to)
      val name = lowerName(html, from, to, kind)
      if (kind < 0) kind = KnownTags.indexOf(name) // e.g. a Kelvin-sign spelling
      if (isClosing(html, lt)) {
        if (isStripped(kind)) { if (stripDepth > 0) stripDepth -= 1 }
        else if (stripDepth == 0) closeTag(name)
      } else if (isSelfClosed(html, lt, gt) || isVoid(kind)) {
        // <br/> acts as a text-node separator in bs4 (no string content)
      } else if (isRawText(kind)) {
        // raw-text strip element: content is DATA, not markup — jump
        // straight past the literal close tag so a '<p>' or stray quote
        // inside JS/CSS can neither leak text nor desync the tokenizer
        return past(closeOf(html, gt + 1, name), 0)
      } else if (isStripped(kind)) stripDepth += 1
      else if (stripDepth == 0) openTag(name, isWhitelisted(kind))
      gt + 1
    }

    private def openTag(name: String, whitelisted: Boolean): Unit = {
      if (depth == names.length) names = java.util.Arrays.copyOf(names, depth * 2)
      names(depth) = name
      if (whitelisted) { open += new Collector(depth, order); order += 1 }
      depth += 1
    }

    /** Pops up to and including the innermost open element of this name
      * (tolerates our well-formed subset); no-op if none is open.
      */
    private def closeTag(name: String): Unit = {
      var idx = depth - 1
      while (idx >= 0 && names(idx) != name) idx -= 1
      while (idx >= 0 && depth > idx) {
        depth -= 1
        if (open.nonEmpty && open.last.tag == depth) closeCollector()
      }
    }

    /** A nested element closes before the one around it, so its place
      * in open order is found from the end.
      */
    private def closeCollector(): Unit = {
      val c = open.remove(open.length - 1)
      var k = done.length
      while (k > 0 && done(k - 1).order > c.order) k -= 1
      if (c.text.length > 0) done.insert(k, c)
    }

    /** Text node `html[from, to)`: decoded, stripped and collapsed into the
      * innermost open element, then copied to the enclosing ones.
      */
    private def text(from: Int, to: Int): Unit = {
      if (stripDepth > 0 || open.isEmpty) return
      val buf = open.last.text
      val hadText = buf.length > 0
      var start = -1 // index in buf of the node's first char
      var keep = 0 // buf length after the node's last non-space char
      var run = 0 // 1 after a collapsed [ \t] run, 2 after a \n run
      var i = from
      while (i < to) {
        var c = html.charAt(i)
        var next = i + 1
        var low = '\u0000' // low surrogate of a decoded supplementary char
        if (c == '&') {
          val e = entityAt(html, i, to)
          if (e >= 0) {
            val cp = (e >>> 32).toInt
            next = e.toInt
            if (cp < 0x10000) c = cp.toChar
            else { c = Character.highSurrogate(cp); low = Character.lowSurrogate(cp) }
          }
        }
        if (Py.isSpace(c)) {
          if (start >= 0) {
            if (c == ' ' || c == '\t') { if (run != 1) buf.add(' '); run = 1 }
            else if (c == '\n') { if (run != 2) buf.add('\n'); run = 2 }
            else { buf.add(c); run = 0 }
          }
        } else {
          if (start < 0) {
            if (hadText) buf.add(' ')
            start = buf.length
          }
          if (next == i + 1) {
            // a run of plain chars is copied in bulk
            while (next < to && { val d = html.charAt(next); d != '&' && !Py.isSpace(d) }) next += 1
            buf.add(html, i, next)
          } else {
            buf.add(c)
            if (low != 0) buf.add(low)
          }
          keep = buf.length
          run = 0
        }
        i = next
      }
      if (start >= 0) {
        buf.length = keep
        for (k <- open.length - 2 to 0 by -1) {
          val outer = open(k).text
          if (outer.length > 0) outer.add(' ')
          outer.add(buf.chars, start, keep)
        }
      }
    }
  }

  /** A whitelisted element being collected: the stack index of its tag,
    * its open order, and its text so far.
    */
  private final class Collector(val tag: Int, val order: Int) {
    val text = new CharBuf(64)
  }

  /** Growable char buffer: bulk appends are array copies, with none of
    * `StringBuilder`'s per-append coder checks.
    */
  private final class CharBuf(capacity: Int) {
    var chars = new Array[Char](math.max(capacity, 16))
    var length = 0

    private def reserve(extra: Int): Unit =
      if (length + extra > chars.length)
        chars = java.util.Arrays.copyOf(chars, math.max(chars.length * 2, length + extra))

    def add(c: Char): Unit = { reserve(1); chars(length) = c; length += 1 }

    def add(s: String, from: Int, to: Int): Unit = {
      reserve(to - from); s.getChars(from, to, chars, length); length += to - from
    }

    def add(a: Array[Char], from: Int, to: Int): Unit = {
      reserve(to - from); System.arraycopy(a, from, chars, length, to - from); length += to - from
    }

    override def toString: String = new String(chars, 0, length)
  }

  /** All `<a href>` attribute values in document order (entities decoded,
    * duplicates preserved — dedup is the frontier's job, not the parser's).
    * The reference crawler never discovers links (its URL list is fixed,
    * `web_scraper_pipeline.py:41-56`), so these semantics are the rebuild's
    * own: raw attribute bytes out, resolution/canonicalization downstream
    * ([[graft.url.UrlKit.resolve]]).
    */
  def extractLinks(html: String): Vector[String] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[String]
    walkTags(html) { (lt, gt, _) =>
      if (isAnchorOpen(html, lt)) {
        val href = findAttr(html, lt + 2, gt, "href") // quote-aware: href values may hold '>'
        if (href != null) out += decodeEntities(href)
      }
      gt + 1
    }
    out.result()
  }

  /** The tag walk the link, anchor, directive, hreflang and outline
    * scanners share: comments are skipped (bs4 parses them as Comment
    * nodes, so a commented-out tag is not a tag), tag ends are quote-aware,
    * a raw-text element is jumped past its literal close tag (an `<a href>`
    * or `<h1>` inside JS/CSS source is data, the extractor's rule), and
    * every other tag goes to `onTag(lt, gt, name)`, which returns the index
    * to resume at (`html.length` stops the walk). `onText` gets the spans
    * between them.
    */
  private def walkTags(html: String, from: Int = 0, onText: (Int, Int) => Unit = (_, _) => ())(
      onTag: (Int, Int, String) => Int): Unit = {
    val n = html.length
    var i = from
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { onText(i, n); i = n }
      else if (html.startsWith("<!--", lt)) {
        onText(i, lt)
        val end = html.indexOf("-->", lt + 4)
        i = if (end < 0) n else end + 3
      } else {
        onText(i, lt)
        val gt = tagEnd(html, lt + 1)
        if (gt < 0) i = n
        else {
          val name = tagName(html, lt, gt)
          i = if (isClosing(html, lt) || isSelfClosed(html, lt, gt) || !RawTextTags.contains(name))
            onTag(lt, gt, name)
          else {
            val end = closeOf(html, gt + 1, name)
            if (end < 0) n else end
          }
        }
      }
    }
  }

  /** `<a` and whitespace: an anchor's open tag. */
  private def isAnchorOpen(html: String, lt: Int): Boolean =
    lt + 2 < html.length && (html.charAt(lt + 1) == 'a' || html.charAt(lt + 1) == 'A') &&
      Character.isWhitespace(html.charAt(lt + 2))

  /** All (href, anchor-text) pairs of `<a href>` elements in document
    * order — the web-search signal ("what the rest of the web calls this
    * page") that a training-data pipeline aggregates into titles/queries
    * for link targets. Same scanner discipline as [[extractLinks]]
    * (comment-blind, quote-aware tag ends, raw-text bodies jumped), plus
    * the anchor-body rules:
    *
    *  - text runs to the matching `</a>`, with inner tag spans (`<b>`,
    *    `<img …>`, comments) removed and raw-text bodies skipped;
    *  - a nested `<a` OPEN tag closes the current anchor first (browsers'
    *    implicit-close rule — anchors cannot nest), and the scan resumes
    *    at that tag so the new anchor is captured too;
    *  - entities decode, then java-regex `\s` runs collapse to single
    *    spaces and trim (the repo's pinned separator class) — an
    *    image-only/empty anchor yields "".
    */
  def extractAnchors(html: String): Vector[(String, String)] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[(String, String)]
    val n = html.length
    walkTags(html) { (lt, gt, _) =>
      val href = if (isAnchorOpen(html, lt)) findAttr(html, lt + 2, gt, "href") else null
      if (href == null) gt + 1
      else {
        // the body runs to the matching `</a>`; a nested `<a` open tag
        // closes it implicitly, and the walk resumes AT that tag
        val sb = new java.lang.StringBuilder
        var j = n
        walkTags(html, gt + 1, (a, b) => sb.append(html, a, b)) { (lt2, gt2, name) =>
          if (name != "a") gt2 + 1
          else { j = if (isClosing(html, lt2)) gt2 + 1 else lt2; n }
        }
        val text = AnyWhitespace.matcher(decodeEntities(sb.toString))
          .replaceAll(" ").trim
        out += ((decodeEntities(href), text))
        j
      }
    }
    out.result()
  }

  final case class Directives(noindex: Boolean, nofollow: Boolean, canonical: String)

  /** Page-level crawl directives — the two signals a polite crawler must
    * read out of the page itself: `<meta name="robots" content="…">`
    * (noindex / nofollow / none tokens, any case, first meta wins — the
    * rule browsers and Googlebot apply) and `<link rel="canonical"
    * href="…">` (the duplicate-cluster representative the SITE declares,
    * first link wins). Same scanner discipline as [[extractLinks]]:
    * comment-blind, raw-text bodies jumped, quote-aware tag ends.
    * `canonical` is the raw attribute value ("" if absent) — resolution
    * belongs downstream like every other discovered URL.
    */
  def pageDirectives(html: String): Directives = {
    if (html == null) return Directives(noindex = false, nofollow = false, "")
    // fast path: a page with neither substring cannot carry a directive —
    // the COMMON page pays one allocation-free case-blind scan instead of
    // the tag walk; a body-text false hit just takes the walk, same answer
    if (indexOfIgnoreCase(html, "robots") < 0 &&
        indexOfIgnoreCase(html, "canonical") < 0)
      return Directives(noindex = false, nofollow = false, "")
    var noindex = false; var nofollow = false; var canonical = ""
    var sawRobots = false; var sawCanonical = false
    walkTags(html) { (lt, gt, name) =>
      if (!isClosing(html, lt) && name == "meta" && !sawRobots) {
        val nm = findAttr(html, lt + 5, gt, "name")
        if (nm != null && nm.trim.equalsIgnoreCase("robots")) {
          sawRobots = true
          val content = findAttr(html, lt + 5, gt, "content")
          if (content != null) {
            val toks = decodeEntities(content).toLowerCase(java.util.Locale.ROOT)
              .split(',').map(_.trim).toSet
            noindex = toks.contains("noindex") || toks.contains("none")
            nofollow = toks.contains("nofollow") || toks.contains("none")
          }
        }
      } else if (!isClosing(html, lt) && name == "link" && !sawCanonical) {
        val rel = findAttr(html, lt + 5, gt, "rel")
        if (rel != null && rel.trim.equalsIgnoreCase("canonical")) {
          sawCanonical = true
          val href = findAttr(html, lt + 5, gt, "href")
          if (href != null) canonical = decodeEntities(href)
        }
      }
      if (sawRobots && sawCanonical) html.length else gt + 1
    }
    Directives(noindex, nofollow, canonical)
  }

  /** `<link rel="alternate" hreflang="…" href="…">` declarations in
    * document order — the multilingual alternate graph (the hreflang
    * annotations search engines use to group translations of one page;
    * a multilingual corpus pipeline uses them to balance languages
    * WITHOUT near-dup-detecting across languages, which content hashing
    * cannot do). Same scanner discipline as [[pageDirectives]]:
    * comment-blind, raw-text bodies jumped, quote-aware tag ends, `rel`
    * treated as a space-separated token SET (so `rel="alternate
    * stylesheet"` still matches — the WHATWG link-type rule). Entries
    * missing either attribute are skipped; `href` is the raw decoded
    * attribute — resolution belongs downstream like every discovered URL.
    * Fast path: no "hreflang" substring → no allocation-free tag walk.
    */
  def hreflangAlternates(html: String): Vector[(String, String)] = {
    if (html == null) return Vector.empty
    if (indexOfIgnoreCase(html, "hreflang") < 0) return Vector.empty
    val out = Vector.newBuilder[(String, String)]
    walkTags(html) { (lt, gt, name) =>
      if (!isClosing(html, lt) && name == "link") {
        val rel = findAttr(html, lt + 5, gt, "rel")
        val relToks = if (rel == null) Set.empty[String]
          else rel.toLowerCase(java.util.Locale.ROOT)
            .split("[ \t\n\r]+").filter(_.nonEmpty).toSet
        if (relToks.contains("alternate")) {
          val lang = findAttr(html, lt + 5, gt, "hreflang")
          val href = findAttr(html, lt + 5, gt, "href")
          if (lang != null && lang.trim.nonEmpty && href != null)
            out += ((decodeEntities(lang).trim
              .toLowerCase(java.util.Locale.ROOT), decodeEntities(href)))
        }
      }
      gt + 1
    }
    out.result()
  }

  private def indexOfIgnoreCase(s: String, needle: String): Int = {
    val n = s.length - needle.length
    var i = 0
    while (i <= n) {
      if (s.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** Value of attribute `key` inside span [from, to); null if absent.
    * Same states as the href parser it generalizes: quoted either way,
    * bare values, any key case, whitespace around '='.
    */
  private def findAttr(html: String, from: Int, to: Int, key: String): String = {
    val kl = key.length
    var k = from
    while (k + kl <= to) {
      val isKey = html.regionMatches(true, k, key, 0, kl) &&
        (k == from || Character.isWhitespace(html.charAt(k - 1)))
      if (isKey) {
        var i = k + kl
        while (i < to && Character.isWhitespace(html.charAt(i))) i += 1
        if (i < to && html.charAt(i) == '=') {
          i += 1
          while (i < to && Character.isWhitespace(html.charAt(i))) i += 1
          if (i >= to) return null
          val q = html.charAt(i)
          if (q == '"' || q == '\'') {
            val end = html.indexOf(q, i + 1)
            return if (end < 0 || end > to) null else html.substring(i + 1, end)
          } else {
            // unquoted value: runs to whitespace or tag end — '/' is NOT a
            // terminator (HTML5 unquoted-attribute state: <a href=/about>
            // means "/about", <a href=docs/p.html> keeps the full path)
            var j = i
            while (j < to && !Character.isWhitespace(html.charAt(j))) j += 1
            return html.substring(i, j)
          }
        }
      }
      k += 1
    }
    null
  }

  /** Title + heading outline of a page. */
  final case class Outline(title: String, h: Array[Int])

  /** First `<title>` content + `h1..h6` open-tag counts — the
    * document-structure signals soft-404 gates and boilerplate
    * classifiers key on (an error page titled "404 Not Found" sails
    * through text-quality checks; a page with 40 `<h3>`s and no body is
    * a link hub). Title is RCDATA per the HTML5 tokenizer: runs to the
    * literal `</title` close tag, NO tags parsed inside (a stray `<b>`
    * stays text), entities decoded, whitespace collapsed; first title
    * wins, absent/self-closing → "". Heading counts skip comments and
    * raw-text elements (an `<h1>` inside a script string is not
    * structure), matching the comment/raw-text blindness of
    * [[extractLinks]] and [[pageDirectives]].
    */
  def outline(html: String): Outline = {
    val h = new Array[Int](6)
    if (html == null) return Outline("", h)
    var title: String = null
    val n = html.length
    walkTags(html) { (lt, gt, name) =>
      if (isClosing(html, lt)) gt + 1
      else if (name == "title" && title == null) {
        if (isSelfClosed(html, lt, gt)) { title = ""; gt + 1 }
        else {
          // RCDATA: content ends at the literal close tag only
          var j = gt + 1
          var close = -1
          while (close < 0 && j < n) {
            val c = html.indexOf("</", j)
            if (c < 0) j = n
            else if (html.regionMatches(true, c + 2, "title", 0, 5)) close = c
            else j = c + 2
          }
          val raw = html.substring(gt + 1, if (close < 0) n else close)
          title = decodeEntities(raw).trim
            .split("\\s+").filter(_.nonEmpty).mkString(" ")
          if (close < 0) n else {
            val cgt = html.indexOf('>', close + 2)
            if (cgt < 0) n else cgt + 1
          }
        }
      } else {
        if (name.length == 2 && name.charAt(0) == 'h' && name.charAt(1) >= '1' && name.charAt(1) <= '6')
          h(name.charAt(1) - '1') += 1
        gt + 1
      }
    }
    Outline(if (title == null) "" else title, h)
  }
}

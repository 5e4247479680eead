package graft.text

import graft.core.Py
import scala.util.hashing.MurmurHash3

/** The text kernels as they were before the one-pass rewrite, kept verbatim
  * as the reference that `TextKernelPropertySpec` holds the shipped
  * kernels byte-equal to: extract-then-regex extraction, split/mkString
  * chunking, token-array embedding and the `Character.getType` space test.
  */
object HtmlTextReference {

  private val StripTags: Set[String] =
    Set("script", "style", "noscript", "header", "footer", "nav", "aside")

  private val Whitelist: Set[String] =
    Set("h1", "h2", "h3", "h4", "h5", "h6", "p", "li")

  /** Tags that never take content (void elements) in our subset. */
  private val VoidTags: Set[String] =
    Set("br", "hr", "img", "meta", "link", "input", "area", "base", "col",
      "embed", "source", "track", "wbr")

  /** Common named entities beyond the XML five + nbsp (the web-text set a
    * Common-Crawl extractor meets constantly; values = Python
    * `html.unescape` for the same names — parity with the reference's bs4
    * output). Numeric forms (`&#8212;` / `&#x2014;`) were already decoded.
    */
  private val NamedEntities: Map[String, Char] = Map(
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

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi > i && semi - i <= 8) {
          s.substring(i + 1, semi) match {
            case "amp" => sb.append('&'); i = semi + 1
            case "lt" => sb.append('<'); i = semi + 1
            case "gt" => sb.append('>'); i = semi + 1
            case "quot" => sb.append('"'); i = semi + 1
            case "apos" => sb.append('\''); i = semi + 1
            case "nbsp" => sb.append(' '); i = semi + 1
            case ent if NamedEntities.contains(ent) =>
              sb.append(NamedEntities(ent)); i = semi + 1
            case ent if ent.startsWith("#") =>
              val code =
                try {
                  if (ent.length > 1 && (ent.charAt(1) == 'x' || ent.charAt(1) == 'X'))
                    Integer.parseInt(ent.substring(2), 16)
                  else Integer.parseInt(ent.substring(1))
                } catch { case _: NumberFormatException => -1 }
              if (code >= 0) { sb.appendCodePoint(code); i = semi + 1 }
              else { sb.append(c); i += 1 }
            case _ => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
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

  /** One whitelisted element mid-collection. */
  private final class Collector(val order: Int) {
    val parts = new java.lang.StringBuilder(64)
    def add(stripped: String): Unit = {
      if (parts.length() > 0) parts.append(' ')
      parts.append(stripped)
    }
  }

  /** Extract readable text (strip-tags removed, whitelist collected). */
  def extract(html: String): String = {
    if (html == null) return null
    val n = html.length
    var i = 0
    var stripDepth = 0 // >0 → inside a removed subtree
    var order = 0
    // stack of (tagName, collectorOrNull) for open elements we care about
    val tagStack = new scala.collection.mutable.ArrayBuffer[String](16)
    val openCollectors = new scala.collection.mutable.ArrayBuffer[Collector](8)
    val collectorDepth = new scala.collection.mutable.ArrayBuffer[Int](8) // tagStack size at open
    val done = new scala.collection.mutable.ArrayBuffer[(Int, String)](32)

    def emitText(raw: String): Unit = {
      if (stripDepth > 0 || openCollectors.isEmpty) return
      val stripped = Py.strip(decodeEntities(raw))
      if (stripped.nonEmpty) {
        var k = 0
        while (k < openCollectors.length) { openCollectors(k).add(stripped); k += 1 }
      }
    }

    def closeTag(name: String): Unit = {
      // pop until matching open tag (tolerates our well-formed subset)
      var idx = tagStack.lastIndexOf(name)
      if (idx < 0) return
      while (tagStack.length > idx) {
        tagStack.remove(tagStack.length - 1)
        if (collectorDepth.nonEmpty && collectorDepth.last == tagStack.length) {
          collectorDepth.remove(collectorDepth.length - 1)
          val c = openCollectors.remove(openCollectors.length - 1)
          val text = c.parts.toString
          if (text.nonEmpty) done += ((c.order, text))
        }
      }
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { emitText(html.substring(i)); i = n }
      else {
        if (lt > i) emitText(html.substring(i, lt))
        if (lt + 1 < n && html.charAt(lt + 1) == '!') {
          // comment, CDATA section, or doctype
          if (html.startsWith("<!--", lt)) {
            val end = html.indexOf("-->", lt + 4)
            i = if (end < 0) n else end + 3
          } else if (html.startsWith("<![CDATA[", lt)) {
            // skipped wholesale to ']]>' — its content may contain '>' and
            // tag-shaped text that must not be tokenized (FIXTURES.md §2)
            val end = html.indexOf("]]>", lt + 9)
            i = if (end < 0) n else end + 3
          } else {
            val end = html.indexOf('>', lt)
            i = if (end < 0) n else end + 1
          }
        } else {
          val gt = tagEnd(html, lt + 1)
          if (gt < 0) { i = n }
          else {
            val inner = html.substring(lt + 1, gt)
            val closing = inner.startsWith("/")
            val selfClosed = inner.endsWith("/")
            val body = inner.stripPrefix("/").stripSuffix("/")
            val sp = body.indexWhere(ch => ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r')
            val name = (if (sp < 0) body else body.substring(0, sp)).toLowerCase(java.util.Locale.ROOT)
            var nextI = gt + 1
            if (name.isEmpty) { /* stray '<>' — ignore */ }
            else if (closing) {
              if (StripTags.contains(name)) {
                if (stripDepth > 0) stripDepth -= 1
              } else if (stripDepth == 0) closeTag(name)
            } else if (selfClosed || VoidTags.contains(name)) {
              // <br/> acts as a text-node separator in bs4 (no string content)
            } else if (RawTextTags.contains(name)) {
              // raw-text strip element: content is DATA, not markup — jump
              // straight past the literal close tag so a '<p>' or stray
              // quote inside JS/CSS can neither leak text nor desync the
              // tokenizer (all three are also StripTags: nothing is kept)
              val end = closeOf(html, gt + 1, name)
              nextI = if (end < 0) n else end
            } else if (StripTags.contains(name)) {
              stripDepth += 1
            } else if (stripDepth == 0) {
              tagStack += name
              if (Whitelist.contains(name)) {
                val c = new Collector(order); order += 1
                openCollectors += c
                collectorDepth += tagStack.length - 1
              }
              // raw-text elements we also skip wholesale when stripping is off
              // (title etc. are not whitelisted so their text only leaks into
              // an enclosing whitelisted element — matches bs4)
            }
            i = nextI
          }
        }
      }
    }
    // close any still-open collectors (unclosed trailing elements)
    while (openCollectors.nonEmpty) {
      val c = openCollectors.remove(openCollectors.length - 1)
      val text = c.parts.toString
      if (text.nonEmpty) done += ((c.order, text))
    }
    done.sortInPlaceBy(_._1).iterator.map(_._2).mkString("\n")
  }

  /** `preprocess_text` (`:95-99`): collapse [ \t]+ → " ", \n{2,} → "\n",
    * then Python-strip. Pure-Scala twin of the column pipeline in
    * [[graft.functions]] (which uses codegen'd regexp_replace built-ins).
    */
  // precompiled: String.replaceAll compiles its Pattern on EVERY call, and
  // preprocess runs once per page in the extraction hot path — identical
  // regex semantics, one compile per JVM instead of two per page
  private val SpacesTabs = java.util.regex.Pattern.compile("[ \t]+")
  private val MultiNewline = java.util.regex.Pattern.compile("\n{2,}")

  def preprocess(text: String): String = {
    if (text == null) return null
    val a = SpacesTabs.matcher(text).replaceAll(" ")
    val b = MultiNewline.matcher(a).replaceAll("\n")
    Py.strip(b)
  }

  /** Full per-row text pipeline: clean+extract then preprocess. This output
    * is the per-row invariant column (`BASELINE.json` input_hint:
    * "byte-identical extracted text per url").
    */
  def extractReadable(html: String): String =
    if (html == null) null else preprocess(extract(html))

}

object ChunkerReference {

  def chunk(text: String, cfg: Chunker.Config = Chunker.Config()): Vector[String] = {
    if (text == null) return Vector.empty
    val paragraphs = text.split("\n", -1).filter(p => Py.strip(p).nonEmpty)

    val chunks = Vector.newBuilder[String]
    var current = List.newBuilder[String]
    var currentNonEmpty = false
    var currentSize = 0

    def flush(): Unit = {
      if (currentNonEmpty) {
        val joined = Py.strip(current.result().mkString(" "))
        if (Py.wordCount(joined) > cfg.maxWords) chunks ++= Chunker.splitRecursive(joined, cfg.maxWords)
        else chunks += joined
        current = List.newBuilder[String]
        currentNonEmpty = false
        currentSize = 0
      }
    }

    for (para <- paragraphs) {
      val w = Py.wordCount(para)
      if (currentSize + w > cfg.maxWords) flush()
      current += para
      currentNonEmpty = true
      currentSize += w
    }
    flush()

    val pre = chunks.result()
    if (cfg.overlapWords > 0 && pre.length > 1) {
      pre.zipWithIndex.map { case (c, i) =>
        if (i == 0) c
        else {
          val prevWords = Py.split(pre(i - 1))
          val from = math.max(0, prevWords.length - cfg.overlapWords)
          prevWords.slice(from, prevWords.length).mkString(" ") + " " + c
        }
      }
    } else pre
  }
}

object HashEmbedReference {

  def embed(text: String, dim: Int = graft.embed.HashEmbed.Dim): Array[Float] = {
    val v = new Array[Float](dim)
    if (text == null) return v
    val toks = Py.split(text)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val bucket = Math.floorMod(MurmurHash3.stringHash(t, 42), dim)
      val sign = if (MurmurHash3.stringHash(t, 1337) >= 0) 1.0f else -1.0f
      v(bucket) += sign
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += v(i).toDouble * v(i).toDouble; i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm))
      i = 0
      while (i < dim) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
    v
  }
}

object PyReference {

  def isSpace(c: Char): Boolean =
    (c <= 0x20 && (c == ' ' || (c >= '\t' && c <= '\r'))) ||
      (c >= 0x1c && c <= 0x1f) ||
      c == 0x85 || // NEL
      c == 0x2028 || c == 0x2029 || // Zl / Zp, also Python-space
      Character.getType(c) == Character.SPACE_SEPARATOR
}

package graft.fixtures

import graft.Schemas.Page
import graft.core.Py
import scala.util.Random

/** Deterministic synthetic-pages generator (FIXTURES.md §2).
  *
  * Emits Common-Crawl-shaped rows (url, warc_ts, html, text, lang) where
  * `html` is well-formed HTML from the strict subset grammar and `text` is
  * the EXPECTED extraction output, computed structurally during generation —
  * NOT by calling the extractor — so the byte-identity test
  * `extract_readable(html) == text` is a genuine two-implementation check.
  *
  * Coverage per FIXTURES.md: the 7 strip-tags wrapping junk, h1-h6/p/li in
  * mixed order, a nested-li (bs4 duplication quirk,
  * `/root/reference/web_scraper_pipeline.py:88`), whitespace traps (tabs,
  * space runs, internal newlines, whitespace-only nodes), inline tags
  * splitting text nodes, div-only regions, comments (including tag-shaped
  * comment bodies), non-ASCII tokens, named/numeric entities mid-text,
  * quoted '>' inside attribute values, CDATA sections, and raw-text
  * script/style content full of tag-shaped and quote-shaped traps.
  */
object PageGen {

  private val StripTags = Vector("script", "style", "noscript", "header", "footer", "nav", "aside")
  private val Words = Vector(
    "spark", "table", "scan", "join", "merge", "sort", "filter", "window",
    "batch", "stream", "query", "data", "row", "column", "key", "value",
    "straße", "café", "niño", "中文", "données", "schnell")

  private def words(rnd: Random, n: Int): Seq[String] =
    Seq.fill(n)(Words(rnd.nextInt(Words.length)))

  /** A text node with whitespace traps; returns (raw, strippedExpected). */
  private def trickyText(rnd: Random, n: Int): (String, String) = {
    val ws = words(rnd, n)
    val seps = Seq(" ", "  ", "\t", " \t ", "\n", " \n ")
    val sb = new StringBuilder
    if (rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.length)))
    for ((w, i) <- ws.zipWithIndex) {
      sb.append(w)
      if (i < ws.length - 1) sb.append(seps(rnd.nextInt(seps.length)))
    }
    if (rnd.nextBoolean()) sb.append(seps(rnd.nextInt(seps.length)))
    val raw = sb.toString
    (raw, Py.strip(raw))
  }

  /** One whitelisted element; returns (htmlFragment, expectedElementText). */
  private def whitelistedElement(rnd: Random, tag: String): (String, String) = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val expected = scala.collection.mutable.ArrayBuffer.empty[String]
    val nNodes = 1 + rnd.nextInt(3)
    for (i <- 0 until nNodes) {
      val (raw, stripped) = trickyText(rnd, 2 + rnd.nextInt(6))
      if (i == 0) parts += raw
      else {
        // every later node is inline-wrapped: adjacent bare text would merge
        // into ONE text node in any HTML parser and strip as a unit
        val inline = if (rnd.nextBoolean()) "b" else "a"
        parts += s"<$inline>$raw</$inline>"
      }
      if (stripped.nonEmpty) expected += stripped
    }
    if (rnd.nextInt(4) == 0) parts += "   \n\t  " // whitespace-only node
    (s"<$tag>${parts.mkString}</$tag>", expected.mkString(" "))
  }

  /** The nested-li quirk: returns (html, Seq(outerExpected, innerExpected)). */
  private def nestedLi(rnd: Random): (String, Seq[String]) = {
    val (outerRaw, outerStripped) = trickyText(rnd, 3)
    val (innerRaw, innerStripped) = trickyText(rnd, 2)
    val html = s"<ul><li>$outerRaw<ul><li>$innerRaw</li></ul></li></ul>"
    // bs4: outer li's strings = outer text + inner text; inner li emitted too
    val outerExpected = Seq(outerStripped, innerStripped).filter(_.nonEmpty).mkString(" ")
    (html, Seq(outerExpected, innerStripped).filter(_.nonEmpty))
  }

  private def junkElement(rnd: Random): String = {
    val tag = StripTags(rnd.nextInt(StripTags.length))
    val inner = words(rnd, 5).mkString(" ")
    // strip-tags may even wrap whitelisted elements — all of it must vanish
    s"<$tag><p>$inner</p><h2>$inner</h2>junk $inner</$tag>"
  }

  /** (rawEntity, decodedChar) pairs the generator plants mid-text. */
  private val Entities = Vector(
    ("&mdash;", "—"), ("&hellip;", "…"), ("&copy;", "©"), ("&eacute;", "é"),
    ("&frac12;", "½"), ("&laquo;", "«"), ("&raquo;", "»"), ("&euro;", "€"),
    ("&#8212;", "—"), ("&#x2026;", "…"), ("&amp;", "&"), ("&deg;", "°"))

  /** A paragraph whose single text node carries entity references; returns
    * (html, expectedDecodedText).
    */
  private def entityElement(rnd: Random): (String, String) = {
    val (e1, d1) = Entities(rnd.nextInt(Entities.length))
    val (e2, d2) = Entities(rnd.nextInt(Entities.length))
    val a = words(rnd, 2).mkString(" ")
    val b = words(rnd, 2).mkString(" ")
    val c = words(rnd, 1).mkString
    (s"<p>$a $e1 $b $e2 $c</p>", s"$a $d1 $b $d2 $c")
  }

  /** A paragraph with '>'-bearing quoted attributes (on the element AND on
    * an inline child); the attribute junk must be invisible in the text.
    */
  private def attrQuirkElement(rnd: Random): (String, String) = {
    val t1 = words(rnd, 3).mkString(" ")
    val t2 = words(rnd, 2).mkString(" ")
    (s"""<p title="a>b" data-k='1>2'>$t1<a href="/x?q=v>w" class="c>d">$t2</a></p>""",
      s"$t1 $t2")
  }

  /** Tokenizer traps that must produce NO text: a CDATA section with
    * tag-shaped content and a raw-text script whose attributes and body are
    * full of '>' and quote characters.
    */
  private def tokenizerTrap(rnd: Random): String =
    rnd.nextInt(3) match {
      case 0 => "<![CDATA[ 1 > 0 and <p>not text</p> ]]>"
      case 1 => """<script type="text/javascript" data-q=">">var a = '<p>no</p>'; if (1 > 0) { b = "x"; }</script>"""
      case _ => "<style>a > b { content: \"<li>nope</li>\"; }</style>"
    }

  // `preprocess_text` (`:95-99`) spelled as the reference's regexes, so the
  // expected text owes nothing to the extractor's fused scan
  private val SpacesTabs = java.util.regex.Pattern.compile("[ \t]+")
  private val MultiNewline = java.util.regex.Pattern.compile("\n{2,}")

  private def preprocess(text: String): String =
    Py.strip(MultiNewline.matcher(SpacesTabs.matcher(text).replaceAll(" ")).replaceAll("\n"))

  /** Generate one page. Deterministic in (seed, docId). */
  def page(docId: Long, host: String, seed: Long = 42L, lang: String = "en"): Page = {
    val rnd = new Random(seed * 1000003L + docId)
    val frags = scala.collection.mutable.ArrayBuffer.empty[String]
    val expected = scala.collection.mutable.ArrayBuffer.empty[String]

    frags += "<html><head><title>ignored title</title>"
    frags += junkElement(rnd)
    frags += "</head><body>"
    val nBlocks = 3 + rnd.nextInt(8)
    for (_ <- 0 until nBlocks) {
      rnd.nextInt(10) match {
        case 0 | 1 =>
          val tag = s"h${1 + rnd.nextInt(6)}"
          val (h, e) = whitelistedElement(rnd, tag)
          frags += h; if (e.nonEmpty) expected += e
        case 2 =>
          frags += junkElement(rnd)
        case 3 =>
          val (h, es) = nestedLi(rnd)
          frags += h; expected ++= es
        case 4 =>
          // div-only block: text not extracted (div not whitelisted)
          frags += s"<div>${words(rnd, 6).mkString(" ")}</div>"
        case 5 =>
          // half the comments carry tag-shaped bodies — a tokenizer that
          // parses inside comments would hallucinate elements here
          frags += (if (rnd.nextBoolean())
            s"<!-- comment ${words(rnd, 2).mkString(" ")} -->"
          else s"""<!-- <p>${words(rnd, 2).mkString(" ")}</p> & "quotes" > -->""")
        case 6 =>
          val (h, e) = entityElement(rnd)
          frags += h; if (e.nonEmpty) expected += e
        case 7 =>
          val (h, e) = attrQuirkElement(rnd)
          frags += h; if (e.nonEmpty) expected += e
        case 8 =>
          frags += tokenizerTrap(rnd)
        case _ =>
          val (h, e) = whitelistedElement(rnd, "p")
          frags += h; if (e.nonEmpty) expected += e
      }
      frags += "\n  " // inter-element layout whitespace (must vanish)
    }
    frags += "</body></html>"
    val html = frags.mkString
    val rawExtract = expected.mkString("\n")
    val text = preprocess(rawExtract)
    val url = s"http://$host/d/$docId"
    val ts = java.sql.Timestamp.valueOf(java.time.LocalDateTime
      .of(2024, 1, 1, 0, 0, 0).plusSeconds(docId % 86400))
    Page(url, ts, html.getBytes("UTF-8"), text, lang)
  }

  /** n deterministic pages over `hosts` synthetic hosts. */
  def pages(n: Int, hosts: Int = 20, seed: Long = 42L): Seq[Page] =
    (0L until n.toLong).map { i =>
      page(i, s"src${i % hosts}.test", seed, Vector("en", "de", "es", "fr", "zh")((i % 5).toInt))
    }
}

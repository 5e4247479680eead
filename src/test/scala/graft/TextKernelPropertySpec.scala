package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink}
import graft.core.Py
import graft.embed.HashEmbed
import graft.text.{Chunker, ChunkerReference, HashEmbedReference, HtmlText,
  HtmlTextReference, PyReference}

/** The one-pass text kernels equal their references (`TextKernelReference`,
  * the kernels they replaced) over generated and adversarial input:
  * extraction byte-for-byte over HTML full of the tokenizer's edge cases,
  * chunking at the word-limit boundaries, embedding over odd-length and
  * supplementary-plane tokens, and the space test over every char.
  */
object TextKernelPropertySpec extends Properties("TextKernel") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(400)

  // Python-only spaces (NBSP, ideographic space, line separator, NEL, FS)
  // next to the ASCII ones, a surrogate pair and a lone surrogate
  private val textChar: Gen[String] = Gen.frequency(
    20 -> Gen.alphaNumChar.map(_.toString),
    6 -> Gen.oneOf(" ", "  ", "\t", "\n", "\n\n", "\r", "\f", " \t "),
    4 -> Gen.oneOf("\u00a0", "\u3000", "\u2028", "\u0085", "\u001c", " "),
    3 -> Gen.oneOf("é", "中", "ß", "😀", "𐐀", "\uDC00"),
    2 -> Gen.oneOf(">", "\"", "'", "/", ";", "#", "]]>", "-->"))

  private val entity: Gen[String] = Gen.oneOf(
    "&nbsp;", "&amp;", "&lt;", "&quot;", "&apos;", "&mdash;", "&eacute;", "&ccedil;",
    "&#xZZ;", "&#x;", "&#;", "&#65;", "&#x1F600;", "&#X2028;", "&#32;", "&#9;",
    "&#10;", "&#160;", "&#12288;", "&#+5;", "&#-5;", "&#-0;", "&#x-1;", "&#١٢;",
    "&#xＦ;", "&;", "&", "&amp", "&verylongname;", "&unknown;", "&NBSP;", "&a&amp;")

  private val text: Gen[String] =
    Gen.listOf(Gen.frequency(8 -> textChar, 1 -> entity)).map(_.take(24).mkString)

  private val openTag: Gen[String] = Gen.oneOf(
    "<p>", "<P>", "<li>", "<LI>", "<h1>", "<H6 id=x>", "<h3 class=\"a>b\">", "<p title='x>y'>",
    "<div>", "<ul>", "<span>", "<b>", "<a href=\"/q?a>b\">", "<title>", "<html>", "<body>",
    "<p/>", "<p />", "<br>", "<br/>", "<BR >", "<img src=\"a>b\">", "<linK>", "<liK>",
    "<lİ>", "<é>", "<p\tclass=a>", "<p\nid=b>", "<p\fx>", "<nav>", "<NAV>", "<header>",
    "<footer>", "<aside>", "<noscript>", "<script>", "<SCRIPT type=\"a>b\">", "<style>",
    "<scrİpt>", "<script/>", "<h7>", "<trac\u212a>")

  private val closeTag: Gen[String] = Gen.oneOf(
    "</p>", "</P>", "</li>", "</LI>", "</h1>", "</h6>", "</div>", "</ul>", "</span>", "</b>",
    "</a>", "</nav>", "</header >", "</footer>", "</aside>", "</noscript>", "</script>",
    "</style>", "</é>", "</lİ>", "</liK>", "</body>", "</html>", "</title>")

  private val markup: Gen[String] = Gen.oneOf(
    "<>", "</>", "<//>", "< p>", "<!-- c <p>no</p> -->", "<!---->", "<!-->", "<!-- unterminated",
    "<![CDATA[ 1 > 0 <p>no</p> ]]>", "<![CDATA[ unterminated", "<!DOCTYPE html>", "<!x",
    "<script>var a = '<p>no</p>'; if (1 > 0) {}</script>", "<style>a > b { c: \"</li>\" }</style>",
    "<script>unterminated <p>x", "<p title=\"unterminated", "<",
    "<li>outer<ul><li>inner</li></ul></li>", "<div><p>open p closed by div</div>", "<p>a<br/>b</p>",
    "<lin\u212a><p>void by case folding</link>kept</p>")

  private val html: Gen[String] =
    Gen.listOf(Gen.frequency(6 -> text, 4 -> openTag, 3 -> closeTag, 2 -> markup))
      .map(_.take(30).mkString)

  property("extractReadable == extract + preprocess reference, generated HTML") =
    forAll(html) { h =>
      val got = HtmlText.extractReadable(h)
      val want = HtmlTextReference.extractReadable(h)
      Prop(got == want) :| s"html=${h.toSeq.map(c => f"${c.toInt}%04x").mkString(" ")}\ngot=$got\nwant=$want"
    }

  property("extractReadable == reference on PageGen pages") =
    forAll(Gen.chooseNum(0L, 1L << 40)) { id =>
      val h = new String(graft.fixtures.PageGen.page(id, "src.test", id * 31).html, "UTF-8")
      HtmlText.extractReadable(h) == HtmlTextReference.extractReadable(h)
    }

  property("entity decoding == reference") = forAll(text) { t =>
    HtmlText.decodeEntities(t) == HtmlTextReference.decodeEntities(t)
  }

  private def words(n: Int, tag: String): String = (1 to n).map(i => s"$tag$i").mkString(" ")

  // lines at and around the 512-word limit, NBSP-only and blank lines,
  // oversized single sentences, sentence-split material, ragged edges
  private val line: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(1, 40).map(words(_, "w")),
    2 -> Gen.oneOf(511, 512, 513, 1030).map(words(_, "s")),
    2 -> Gen.chooseNum(5, 300).map(n =>
      (1 to n).map(i => if (i % 9 == 0) s"End$i. Next" else s"x$i").mkString(" ")),
    1 -> Gen.oneOf("\u00a0\u00a0", "\u00a0", "", "  \t ", "\u3000"),
    1 -> Gen.chooseNum(1, 20).map(n => s" \u00a0${words(n, "r")}\t \u2028"))

  private val chunkText: Gen[String] =
    Gen.listOf(line).map(_.take(8).mkString("\n"))

  private val cfg: Gen[Chunker.Config] = Gen.oneOf(
    Chunker.Config(512, 50), Chunker.Config(512, 0), Chunker.Config(64, 10),
    Chunker.Config(30, 40), Chunker.Config(1, 1))

  // no shrinking: a failing text holds thousands of words
  property("Chunker.chunk == reference at and around the word limit") =
    forAllNoShrink(chunkText, cfg) { (t, c) =>
      Chunker.chunk(t, c) == ChunkerReference.chunk(t, c)
    }

  property("Chunker.chunk == reference on exact 511/512/513-word inputs") = Prop {
    val cases = for {
      n <- Seq(511, 512, 513)
      split <- Seq(0, 1, 256, n - 1)
    } yield {
      val ws = Py.split(words(n, "e"))
      val (a, b) = ws.splitAt(split)
      Seq(a.mkString(" "), b.mkString(" ")).filter(_.nonEmpty).mkString("\n")
    }
    cases.forall(t => Chunker.chunk(t) == ChunkerReference.chunk(t))
  }

  private val token: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("é", "中", "ß", "ǅ"),
    2 -> Gen.oneOf("😀", "𐐀", "\uD800", "\uDFFF"))).map(_.take(9).mkString)

  private val embedText: Gen[String] =
    Gen.listOf(Gen.zip(token, Gen.oneOf(" ", "\u00a0", "\t\n", "\u3000", "  ")))
      .map(_.take(40).map { case (t, s) => t + s }.mkString)

  property("HashEmbed.embed == token-array reference") = forAll(embedText) { t =>
    java.util.Arrays.equals(HashEmbed.embed(t), HashEmbedReference.embed(t)) &&
      java.util.Arrays.equals(HashEmbed.embed(t, 7), HashEmbedReference.embed(t, 7))
  }

  property("Py.isSpace == reference definition over all 65,536 chars") = Prop {
    (0 until 65536).forall(c => Py.isSpace(c.toChar) == PyReference.isSpace(c.toChar))
  }
}

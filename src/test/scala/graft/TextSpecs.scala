package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Py
import graft.text.{Chunker, HtmlText, HtmlTextReference, SentenceSplit, TextStats}

class PySpec extends AnyFunSuite {
  test("strip matches Python str.strip semantics") {
    assert(Py.strip("  a b  ") == "a b")
    assert(Py.strip("\t\n a \r\n") == "a")
    assert(Py.strip("\u00a0a\u00a0") == "a") // NBSP is Python-space (not Java-space)
    assert(Py.strip("\u2028x\u2029") == "x") // Zl/Zp
    assert(Py.strip("\u0085y\u0085") == "y") // NEL
    assert(Py.strip("") == "")
    assert(Py.strip("   ") == "")
  }
  test("split matches Python str.split()") {
    assert(Py.split("a  b\tc\nd").toSeq == Seq("a", "b", "c", "d"))
    assert(Py.split("  ").toSeq == Seq.empty)
    assert(Py.split(" x ").toSeq == Seq("x"))
    assert(Py.wordCount("one two  three") == 3)
  }
}

class HtmlTextSpec extends AnyFunSuite {

  test("strip tags removed, whitelist collected, joined by newline") {
    val html = "<html><head><script>var x=1;</script></head><body>" +
      "<h1>Title</h1><p>Para one.</p><div>ignored</div>" +
      "<nav><p>menu</p></nav><p>Para two.</p></body></html>"
    assert(HtmlText.extractReadable(html) == "Title\nPara one.\nPara two.")
  }

  test("nested li duplication quirk (bs4 find_all returns nested matches)") {
    val html = "<ul><li>outer<ul><li>inner</li></ul></li></ul>"
    assert(HtmlText.extractReadable(html) == "outer inner\ninner")
  }

  test("get_text(strip=True, separator=' '): per-node strip, empties dropped") {
    val html = "<p>  foo \t <b> bar </b>\n baz  </p>"
    assert(HtmlText.extractReadable(html) == "foo bar baz")
    // whitespace-only node contributes nothing
    assert(HtmlText.extractReadable("<p>a<b>   </b>b</p>") == "a b")
    // internal whitespace inside one node survives extract; preprocess
    // collapses it, and the one-pass kernel does both
    assert(HtmlTextReference.extract("<p>a  b</p>") == "a  b")
    assert(HtmlText.extractReadable("<p>a  b</p>") == "a b")
  }

  test("entities, comments, void elements") {
    assert(HtmlText.extractReadable("<p>a &amp; b &lt;c&gt;</p>") == "a & b <c>")
    assert(HtmlText.extractReadable("<p>x<!-- hidden <p>no</p> -->y</p>") == "x y")
    assert(HtmlText.extractReadable("<p>a<br/>b</p>") == "a b")
  }

  test("empty page and non-whitelisted text") {
    assert(HtmlText.extractReadable("<div>only divs here</div>") == "")
    assert(HtmlText.extractReadable("") == "")
  }

  test("named entities, CDATA, quoted '>' attributes, raw-text elements") {
    assert(HtmlText.extractReadable("<p>a &mdash; b &hellip; &copy; &eacute;</p>") == "a — b … © é")
    assert(HtmlText.extractReadable("<p>n &#8212; h &#x2026; end</p>") == "n — h … end")
    // unknown entity passes through verbatim (bs4/lxml behavior)
    assert(HtmlText.extractReadable("<p>a &unknown; b</p>") == "a &unknown; b")
    // CDATA skipped wholesale, even with '>' and tag-shaped content inside
    assert(HtmlText.extractReadable("<p>x</p><![CDATA[ 1 > 0 <p>no</p> ]]><p>y</p>") == "x\ny")
    // quoted '>' in attributes must not end the tag
    assert(HtmlText.extractReadable("""<p title="a>b">t1<a href="/q?x>y">t2</a></p>""") == "t1 t2")
    // raw-text script/style: body is data, not markup — including fake
    // close-tag-looking strings and unbalanced quotes
    assert(HtmlText.extractReadable(
      """<script data-q=">">var a='<p>no</p>'; if(1>0){}</script><p>keep</p>""") == "keep")
    assert(HtmlText.extractReadable(
      "<style>a > b { content: \"<li>nope</li>\"; }</style><p>k</p>") == "k")
  }

  test("extractLinks: comments and raw-text bodies hide links; quoted '>' survives") {
    assert(HtmlText.extractLinks("<!-- <a href=\"/hidden\">x</a> --><a href=\"/real\">y</a>")
      == Vector("/real"))
    assert(HtmlText.extractLinks(
      "<script>var s = '<a href=\"/js\">x</a>';</script><a href=\"/ok\">y</a>")
      == Vector("/ok"))
    assert(HtmlText.extractLinks("""<a href="/q?a>b" class="c>d">t</a>""")
      == Vector("/q?a>b"))
  }

  test("extractAnchors: inner tags strip, entities decode, ws collapses") {
    assert(HtmlText.extractAnchors(
      "<a href=\"/a\">click <b>here</b>\n now &amp; go</a>")
      == Vector(("/a", "click here now & go")))
    // image-only anchor: kept with empty text (aggregation drops it)
    assert(HtmlText.extractAnchors("<a href=\"/i\"><img src=\"x.png\"/></a>")
      == Vector(("/i", "")))
    // comment inside the anchor body is not text; comment outside hides
    // the whole anchor
    assert(HtmlText.extractAnchors(
      "<!-- <a href=\"/no\">x</a> --><a href=\"/y\">a<!-- z -->b</a>")
      == Vector(("/y", "ab")))
    // raw-text inside the body is data, not markup to strip blindly
    assert(HtmlText.extractAnchors(
      "<a href=\"/s\">t<script>if (1 < 2) x('</a>');</script>u</a>")
      == Vector(("/s", "tu")))
  }

  test("extractAnchors: nested <a implicitly closes; unclosed runs to end") {
    assert(HtmlText.extractAnchors("<a href=\"/1\">one<a href=\"/2\">two</a>")
      == Vector(("/1", "one"), ("/2", "two")))
    assert(HtmlText.extractAnchors("<a href=\"/e\">tail text")
      == Vector(("/e", "tail text")))
    // href-less anchors don't emit; hrefs still decode entities
    assert(HtmlText.extractAnchors("<a name=\"x\">t</a><a href=\"/p?a=1&amp;b=2\">q</a>")
      == Vector(("/p?a=1&b=2", "q")))
  }

  test("preprocess: collapse spaces/tabs, blank lines, python strip") {
    assert(HtmlTextReference.preprocess(" \t a  b\tc \n\n\n d \n") == "a b c \n d")
    assert(HtmlTextReference.preprocess("x") == "x")
    assert(HtmlTextReference.preprocess("  \n ") == "")
    // the same collapse inside the one-pass kernel
    assert(HtmlText.extractReadable("<p> \t a  b\tc \n\n\n d \n</p>") == "a b c \n d")
    assert(HtmlText.extractReadable("<p>  \n </p>") == "")
  }

  test("PageGen invariant: extract_readable(html) == text, 300 pages") {
    // the expected text is computed STRUCTURALLY by the generator, the actual
    // by the single-pass extractor — two independent implementations
    for (p <- graft.fixtures.PageGen.pages(300)) {
      val got = HtmlText.extractReadable(new String(p.html, "UTF-8"))
      assert(got == p.text, s"invariant broken for ${p.url}")
    }
  }
}

class SentenceSplitSpec extends AnyFunSuite {
  test("breaks after terminator + whitespace + upper/digit") {
    assert(SentenceSplit.split("One two. Three four. Five") ==
      Vector("One two.", "Three four.", "Five"))
    assert(SentenceSplit.split("Version 2.5 is out. Yes!") ==
      Vector("Version 2.5 is out.", "Yes!")) // 2.5 not a boundary (no space)
    assert(SentenceSplit.split("Hi! 2 things.") == Vector("Hi!", "2 things."))
    assert(SentenceSplit.split("no terminators here") == Vector("no terminators here"))
    assert(SentenceSplit.split("lower. case stays joined") ==
      Vector("lower. case stays joined"))
  }
}

class ChunkerSpec extends AnyFunSuite {

  private def words(n: Int, tag: String = "w"): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("text within max: single chunk, byte-identical") {
    val t = words(100)
    assert(Chunker.chunk(t, Chunker.Config(512, 50)) == Vector(t))
  }

  test("paragraph accumulation: flush on strict overflow (ref :148 uses >)") {
    // paragraphs of 300 + 212 = exactly 512 → fits ONE chunk (no flush)
    val t = words(300, "a") + "\n" + words(212, "b")
    val got = Chunker.chunk(t, Chunker.Config(512, 50))
    assert(got.length == 1)
    assert(got(0) == words(300, "a") + " " + words(212, "b"))
    // 300 + 213 > 512 → flush → two chunks + overlap on the second
    val t2 = words(300, "a") + "\n" + words(213, "b")
    val got2 = Chunker.chunk(t2, Chunker.Config(512, 50))
    assert(got2.length == 2)
    assert(got2(0) == words(300, "a"))
    val overlap = Py.split(words(300, "a")).takeRight(50).mkString(" ")
    assert(got2(1) == overlap + " " + words(213, "b"))
  }

  test("oversized single paragraph with sentences: recursive split") {
    val sent = (1 to 40).map(i => s"Word$i one two three four five six seven eight nine.").mkString(" ")
    // 40 sentences × 10 words = 400 words, max 100 → recursion
    val got = Chunker.splitRecursive(sent, 100)
    assert(got.length >= 4)
    assert(got.forall(c => Py.wordCount(c) <= 100))
    // no word lost
    assert(got.flatMap(Py.split).mkString(" ") == Py.split(sent).mkString(" "))
  }

  test("single giant sentence triggers the guard (reference bug :113-123)") {
    val t = words(1000) // no sentence boundaries
    val got = Chunker.chunk(t, Chunker.Config(512, 50))
    // windows of 512: [512, 488] pre-overlap; chunk 1 gets 50-word overlap
    assert(got.length == 2)
    assert(Py.wordCount(got(0)) == 512)
    assert(Py.wordCount(got(1)) == 488 + 50)
    assert(got(1).startsWith(Py.split(got(0)).takeRight(50).mkString(" ")))
  }

  test("overlap reads PRE-overlap chunks (ref :161 indexes original list)") {
    val t = (1 to 5).map(i => words(100, s"p$i")).mkString("\n") // 5 paras x100
    val got = Chunker.chunk(t, Chunker.Config(200, 10))
    // accumulation: p1+p2 (200 fits), p3+p4, p5
    assert(got.length == 3)
    assert(got(0) == words(100, "p1") + " " + words(100, "p2"))
    val ov1 = Py.split(got(0)).takeRight(10).mkString(" ")
    assert(got(1) == ov1 + " " + words(100, "p3") + " " + words(100, "p4"))
    // chunk 2's overlap comes from PRE-overlap chunk 1 (no ov1 prefix in it)
    val pre1 = words(100, "p3") + " " + words(100, "p4")
    val ov2 = Py.split(pre1).takeRight(10).mkString(" ")
    assert(got(2) == ov2 + " " + words(100, "p5"))
  }

  test("blank paragraphs dropped; whitespace-only input → empty") {
    assert(Chunker.chunk("a b\n\n  \nc d", Chunker.Config(512, 50)) == Vector("a b c d"))
    assert(Chunker.chunk("  \n \n ", Chunker.Config(512, 50)) == Vector.empty)
  }

  test("seeded property: coverage + bounded pre-overlap size + determinism") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 50) {
      val nParas = 1 + rnd.nextInt(8)
      val text = (1 to nParas).map { p =>
        val n = 1 + rnd.nextInt(120)
        (1 to n).map(i => s"t${p}x$i" + (if (rnd.nextInt(12) == 0) "." else "")).mkString(" ")
      }.mkString("\n")
      val cfg = Chunker.Config(64, 10)
      val a = Chunker.chunk(text, cfg)
      val b = Chunker.chunk(text, cfg)
      assert(a == b, "nondeterministic")
      // every input word appears in some chunk
      val allWords = a.flatMap(Py.split).toSet
      for (w <- Py.split(text)) assert(allWords.contains(w), s"lost word $w")
    }
  }
}

class TextStatsSpec extends AnyFunSuite {
  test("langId picks marker-majority language, und when none") {
    assert(TextStats.langId("the cat and the dog of the town") == "en")
    assert(TextStats.langId("der hund und die katze und das haus") == "de")
    assert(TextStats.langId("xyzzy qwerty") == "und")
    assert(TextStats.langId("") == "und")
  }
  test("token counts") {
    assert(graft.core.Py.wordCount("a b  c") == 3)
    assert(TextStats.tokenCountBpe("ab9 x!") == 4) // ab,9,x,!
    assert(TextStats.tokenCountBpe("hello world") == 2)
  }
  test("fingerprints: deterministic, shared runs share prints") {
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val fa = TextStats.fingerprints(a)
    assert(fa == TextStats.fingerprints(a))
    val b = "PREFIX " + a // shared long run at different offset
    val shared = fa.toSet.intersect(TextStats.fingerprints(b).toSet)
    assert(shared.nonEmpty)
  }
  test("minhash signature estimates jaccard") {
    val coeffs = TextStats.minHashCoeffs(128)
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val b = (1 to 54).map(i => s"w$i").mkString(" ") // high overlap
    val sa = TextStats.minHashSignature(a, 3, coeffs)
    val sb = TextStats.minHashSignature(b, 3, coeffs)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 128
    val truth = TextStats.jaccard(a, b, 3)
    assert(math.abs(est - truth) < 0.15, s"est=$est truth=$truth")
  }
  test("simhash: near texts have small hamming, far texts large") {
    val a = (1 to 100).map(i => s"w$i").mkString(" ")
    val b = (1 to 97).map(i => s"w$i").mkString(" ") + " q1 q2 q3"
    val c = (1 to 100).map(i => s"z$i").mkString(" ")
    val dNear = java.lang.Long.bitCount(TextStats.simHash64(a) ^ TextStats.simHash64(b))
    val dFar = java.lang.Long.bitCount(TextStats.simHash64(a) ^ TextStats.simHash64(c))
    assert(dNear < dFar)
    assert(dNear <= 12)
  }
  test("quality features") {
    val q = TextStats.quality("the cat sat")
    assert(q.nWords == 3)
    assert(q.meanWordLen == 3.0)
    assert(q.stopRatio == 1.0 / 3) // only 'the' is a marker stopword
  }
}

package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.url.UrlKit

/** ScalaCheck properties for the URL kernels — the canonicalizer and
  * resolver are TOTAL functions over adversarial input at 10^10 rows, so
  * the invariants are checked over generated garbage, not just curated
  * cases.
  */
object UrlPropertySpec extends Properties("UrlKit") {

  private val segment: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('-', '_', '~', '.'),
      1 -> Gen.oneOf('%', '~', '!'))).map(_.mkString.take(12))

  // non-ASCII host chars: lower-case IDN letters the fast paths keep, and
  // the case traps the parser's toLowerCase(Locale.ROOT) rewrites —
  // upper-case Latin-1, U+0130 (lowercases to two chars), title-case U+01C5
  // and a supplementary upper-case letter (U+10400, a surrogate pair)
  private val idnLower = Seq("ä", "é", "ß", "я", "ǆ", "\uD801\uDC28")
  private val idnUpper = Seq("Ä", "É", "Ø", "Þ", "İ", "ǅ", "\uD801\uDC00")

  private val label: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf(idnLower),
      1 -> Gen.oneOf(idnUpper))).map(_.take(8).mkString)

  private val host: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, label).map(_.mkString(".")))

  private val url: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTP", "Https")
    h <- host
    port <- Gen.oneOf("", ":80", ":443", ":8080", ":65535")
    segs <- Gen.listOf(Gen.oneOf(segment, Gen.const("."), Gen.const("..")))
    q <- Gen.oneOf("", "?a=1&b=%7E2", "?x=/y")
    frag <- Gen.oneOf("", "#f")
  } yield s"$scheme://$h$port/${segs.take(5).mkString("/")}$q$frag"

  private val garbage: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr.map(_.take(40)),
    Gen.const(""),
    Gen.const("http://"),
    Gen.const("://x"),
    Gen.const("http://:80/"),
    Gen.const("http://x:99999999999999/a"),
    url)

  property("canonicalize is total (never throws)") = forAll(garbage) { s =>
    UrlKit.canonicalize(s); true
  }

  // the already-canonical shortcut must be INVISIBLE: for every input —
  // canonical, messy, or garbage — the fast-gated entry point returns
  // byte-identically what the full parse-and-rebuild returns
  private val trickyCanonical: Gen[String] = Gen.oneOf(
    Gen.const("http://a.test/"),
    Gen.const("http://a.test/p?q"),
    Gen.const("http://a.test/p?"),           // empty query: rebuild drops '?'
    Gen.const("http://a.test/.well-known/x"), // "/." segment: slow path
    Gen.const("http://a.test//double//slash"),
    Gen.const("http://a.test/a..b/c."),
    Gen.const("http://a.test:8080/p"),
    Gen.const("http://a.test/p#"),
    Gen.const(" http://a.test/p"),
    Gen.const("http://a.test/p "),
    Gen.const("http://a.test"),
    Gen.const("http://a.test?q=1"),
    Gen.const("http://user@a.test/p"),
    Gen.const("http://a.test/p%41%7e%2F"),
    Gen.const("https://a.test/q/r/s?x=./y"),
    Gen.const("http://ä.test/x"),
    Gen.const("http://bücher.test"),
    Gen.oneOf(idnUpper).map(c => s"http://$c.test/x"),
    Gen.oneOf(idnUpper).map(c => s"https://a$c?q=1"))
  property("fast path == full rebuild on any input") =
    forAll(Gen.oneOf(garbage, url, trickyCanonical)) { s =>
      UrlKit.canonicalize(s) == UrlKit.canonicalizeSlow(s)
    }

  property("host fast path == parse on any input") =
    forAll(Gen.oneOf(garbage, url, trickyCanonical)) { s =>
      UrlKit.host(s) == UrlKit.hostSlow(s)
    }

  // EXHAUSTIVE over the characters the scanner branches on: every suffix of
  // length ≤ 4 from a 14-char adversarial alphabet (one lower- and one
  // upper-case non-ASCII letter among them), appended to the prefixes that
  // reach each scanner state — ~290k inputs, far stronger than sampling for
  // a hand-written state machine
  property("fast path == full rebuild, exhaustive short suffixes") = {
    val alpha = "aA./?#%:@~0 äÄ".toCharArray
    val prefixes = Seq("", "http://", "https://", "http://a", "http://a/",
      "HTTP://a/", "http://a/p")
    var ok = true
    def rec(sb: StringBuilder, depth: Int): Unit = {
      val s = sb.toString
      for (p <- prefixes) {
        val u = p + s
        if (UrlKit.canonicalize(u) != UrlKit.canonicalizeSlow(u) ||
          UrlKit.host(u) != UrlKit.hostSlow(u)) {
          if (ok) System.err.println(s"fast-path mismatch on: '$u'")
          ok = false
        }
      }
      if (depth < 4 && ok) {
        var i = 0
        while (i < alpha.length && ok) {
          sb.append(alpha(i)); rec(sb, depth + 1); sb.setLength(sb.length - 1)
          i += 1
        }
      }
    }
    rec(new StringBuilder, 0)
    ok
  }

  property("canonicalize is idempotent") = forAll(url) { u =>
    val once = UrlKit.canonicalize(u)
    UrlKit.canonicalize(once) == once
  }

  property("canonical output is lowercase-scheme/host, fragment-free") = forAll(url) { u =>
    val c = UrlKit.canonicalize(u)
    !c.contains("#") && {
      val h = UrlKit.host(c)
      h == h.toLowerCase(java.util.Locale.ROOT)
    }
  }

  property("resolve is total and emits canonical-or-null") = forAll(url, garbage) { (base, ref) =>
    val r = UrlKit.resolve(base, ref)
    r == null || UrlKit.canonicalize(r) == r
  }

  property("resolve of an absolute http(s) ref ignores the base") = forAll(url, url) { (base, abs) =>
    UrlKit.resolve(base, abs) == UrlKit.canonicalize(abs)
  }

  property("resolve of a root-relative ref lands on the base host") = forAll(url, segment) { (base, seg) =>
    val r = UrlKit.resolve(base, s"/$seg")
    r == null || UrlKit.host(r) == UrlKit.host(UrlKit.canonicalize(base))
  }

  property("path never contains query bytes") = forAll(url) { u =>
    !UrlKit.path(u).contains("?")
  }

  property("hostReverse is an involution") = forAll(host) { h =>
    UrlKit.hostReverse(UrlKit.hostReverse(h)) == h
  }
}

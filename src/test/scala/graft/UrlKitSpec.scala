package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.url.UrlKit

class UrlKitSpec extends AnyFunSuite {

  test("RFC 3986 normalization cases") {
    val cases = Seq(
      "HTTP://Example.COM/a/b" -> "http://example.com/a/b",
      "http://example.com:80/a" -> "http://example.com/a",
      "https://example.com:443/a" -> "https://example.com/a",
      "http://example.com:8080/a" -> "http://example.com:8080/a",
      "http://example.com" -> "http://example.com/",
      "http://example.com/a/./b" -> "http://example.com/a/b",
      "http://example.com/a/b/../c" -> "http://example.com/a/c",
      "http://example.com/a/%7Euser" -> "http://example.com/a/~user",
      "http://example.com/a/%7euser" -> "http://example.com/a/~user",
      "http://example.com/a%2Fb" -> "http://example.com/a%2Fb",
      "http://example.com/a%2fb" -> "http://example.com/a%2Fb",
      "http://example.com/a#frag" -> "http://example.com/a",
      "http://example.com/a?b=1&a=2" -> "http://example.com/a?b=1&a=2", // query order kept
      "http://user:pw@example.com/a" -> "http://example.com/a",
      "  http://example.com/a  " -> "http://example.com/a",
      "http://example.com/%41%42" -> "http://example.com/AB")
    for ((in, want) <- cases)
      assert(UrlKit.canonicalize(in) == want, s"input: $in")
  }

  test("malformed input is total, lowercased") {
    assert(UrlKit.canonicalize("not a url") == "not a url")
    assert(UrlKit.canonicalize("ftp://x/y") == "ftp://x/y")
    assert(UrlKit.canonicalize(null) == null)
  }

  test("idempotence (seeded property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 500) {
      val s = rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      val u = rnd.nextInt(3) match {
        case 0 => s"http://EX.com:80/p/$s/../q?x=%7E$s#f"
        case 1 => s"https://a.B.c/$s/./"
        case _ => s"HTTP://$s.Org/%41$s%2f?q=$s"
      }
      val once = UrlKit.canonicalize(u)
      assert(UrlKit.canonicalize(once) == once, s"not idempotent: $u -> $once")
    }
  }

  test("hostReverse") {
    assert(UrlKit.hostReverse("www.example.org") == "org.example.www")
    assert(UrlKit.hostReverse("localhost") == "localhost")
    assert(UrlKit.hostReverse("") == "")
    assert(UrlKit.hostReverse(UrlKit.host("http://a.b.c/x")) == "c.b.a")
  }

  test("dot-segment resolution follows RFC 3986 §5.2.4") {
    assert(UrlKit.canonicalize("http://x.y/a/b/c/./../../g") == "http://x.y/a/g")
    assert(UrlKit.canonicalize("http://x.y/../a") == "http://x.y/a")
    assert(UrlKit.canonicalize("http://x.y/a/..") == "http://x.y/")
  }

  test("port edge cases never throw (total-function contract)") {
    // oversized port = malformed → lowercase-trim fallback, NOT an exception
    assert(UrlKit.canonicalize("http://x:99999999999/") == "http://x:99999999999/")
    assert(UrlKit.canonicalize("HTTP://X:70000/a") == "http://x:70000/a")
    // valid boundary ports parse
    assert(UrlKit.canonicalize("http://x:65535/a") == "http://x:65535/a")
    assert(UrlKit.canonicalize("http://x:1/a") == "http://x:1/a")
    // empty port = scheme default (RFC 3986 §3.2.3)
    assert(UrlKit.canonicalize("http://x:/a") == "http://x/a")
  }

  test("path extraction: '?' before '/' never leaks query into path") {
    assert(UrlKit.path("http://h.test?x=/admin") == "/")
    assert(UrlKit.path("http://h.test/admin?x=1") == "/admin")
    assert(UrlKit.path("http://h.test") == "/")
    assert(UrlKit.path("not a url") == "/")
    assert(UrlKit.path("http://h.test/a/b/c") == "/a/b/c")
  }

  test("reference resolution (RFC 3986 §5.2) + canonicalization") {
    val base = "http://a.test/dir/page.html?q=1"
    assert(UrlKit.resolve(base, "http://B.test/x") == "http://b.test/x")
    assert(UrlKit.resolve(base, "//c.test/y") == "http://c.test/y")
    assert(UrlKit.resolve(base, "/abs/z") == "http://a.test/abs/z")
    assert(UrlKit.resolve(base, "rel/w") == "http://a.test/dir/rel/w")
    assert(UrlKit.resolve(base, "../up") == "http://a.test/up")
    assert(UrlKit.resolve(base, "?q=2") == "http://a.test/dir/page.html?q=2")
    assert(UrlKit.resolve(base, "#frag") == "http://a.test/dir/page.html?q=1")
    assert(UrlKit.resolve(base, "") == "http://a.test/dir/page.html?q=1")
    // non-crawlable schemes → null (frontier drops by null semantics)
    assert(UrlKit.resolve(base, "mailto:x@y.z") == null)
    assert(UrlKit.resolve(base, "javascript:void(0)") == null)
    assert(UrlKit.resolve(base, "ftp://f.test/x") == null)
    // port survives resolution
    assert(UrlKit.resolve("http://a.test:8080/d/p", "q") == "http://a.test:8080/d/q")
    // base without path
    assert(UrlKit.resolve("http://a.test", "x") == "http://a.test/x")
  }
}

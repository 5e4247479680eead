package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

// Link discovery specs ([[graft.frontier.Discover]]): the page-backed
// discoverers, their nofollow contract and the MIME-routed variant.

class EdgesFromPagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("edgesFromPages emits (src, dst) for exactly the links fromPages discovers") {
    import spark.implicits._
    val pages = Seq(
      ("http://h.test/a", """<html><body><a href="/b">b</a><a href="http://x.test/c">c</a></body></html>"""),
      ("http://h.test/b", """<html><body><a href="/a">a</a></body></html>"""))
      .toDF("url", "html")
      .select(col("url"), encode(col("html"), "UTF-8").as("html"),
        lit(null).cast("timestamp").as("warc_ts"),
        lit(null).cast("string").as("text"), lit("en").as("lang"))
    val scheduled = Seq("http://h.test/a", "http://h.test/b").toDF("canonical_url")
      .withColumn("seed_idx", lit(1L))
    val edges = graft.frontier.Discover.edgesFromPages(pages)(scheduled)
      .as[(String, String)].collect().toSet
    assert(edges == Set(
      ("http://h.test/a", "http://h.test/b"),
      ("http://h.test/a", "http://x.test/c"),
      ("http://h.test/b", "http://h.test/a")))
    val discovered = graft.frontier.Discover.fromPages(pages)(scheduled)
      .select("url").as[String].collect().toSet
    assert(discovered == edges.map(_._2))
  }
}

class PageDirectivesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.text.HtmlText

  test("meta robots parsing: tokens, case, quoting, 'none', first-meta-wins, comments") {
    def d(h: String) = HtmlText.pageDirectives(h)
    assert(d("""<meta name="robots" content="noindex, nofollow">""")
      == HtmlText.Directives(true, true, ""))
    assert(d("""<meta name='ROBOTS' content='NOFOLLOW'>""")
      == HtmlText.Directives(false, true, ""))
    assert(d("""<meta name=robots content=none>""")
      == HtmlText.Directives(true, true, ""))
    assert(d("""<meta name="robots" content="index, follow">""")
      == HtmlText.Directives(false, false, ""))
    // first meta wins; later contradicting meta ignored
    assert(d("""<meta name="robots" content="noindex"><meta name="robots" content="index">""")
      == HtmlText.Directives(true, false, ""))
    // commented-out and raw-text-embedded directives do not count
    assert(d("""<!-- <meta name="robots" content="noindex"> --><p>x</p>""")
      == HtmlText.Directives(false, false, ""))
    assert(d("""<script>var s = '<meta name="robots" content="noindex">';</script>""")
      == HtmlText.Directives(false, false, ""))
    // unrelated meta does not trip the scanner
    assert(d("""<meta name="viewport" content="width=device-width">""")
      == HtmlText.Directives(false, false, ""))
  }

  test("rel=canonical: value surfaces raw, entities decoded, first wins") {
    def d(h: String) = HtmlText.pageDirectives(h)
    assert(d("""<link rel="canonical" href="http://a.test/x?a=1&amp;b=2">""").canonical
      == "http://a.test/x?a=1&b=2")
    assert(d("""<link rel=canonical href=/relative/path>""").canonical == "/relative/path")
    assert(d("""<link rel="stylesheet" href="/s.css"><link rel="canonical" href="/c1"><link rel="canonical" href="/c2">""").canonical
      == "/c1")
    assert(d("<p>no links</p>").canonical == "")
  }

  test("discovery honors nofollow; respectNofollow=false restores old behavior") {
    import spark.implicits._
    val mk = (url: String, meta: String) => graft.Schemas.Page(url,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      (s"<html><head>$meta</head><body>" +
        s"""<a href="/next">n</a></body></html>""").getBytes("UTF-8"), "t", "en")
    val pages = Seq(
      mk("http://h.test/open", ""),
      mk("http://h.test/closed", """<meta name="robots" content="nofollow">"""))
    val ptRoot = java.nio.file.Files.createTempDirectory("pdirs").toString
    graft.sources.PageTable.commit(spark, ptRoot, spark.createDataset(pages).toDF())
    val stored = graft.sources.PageTable.read(spark, ptRoot)
    val wave = Seq("http://h.test/open", "http://h.test/closed")
      .toDF("canonical_url").withColumn("seed_idx", lit(1L))
    val followed = graft.frontier.Discover.fromPages(stored)(wave)
      .select("url").as[String].collect()
    assert(followed.toSeq == Seq("http://h.test/next")) // only the open page's link
    val all = graft.frontier.Discover.fromPages(stored, respectNofollow = false)(wave)
      .select("url").as[String].collect()
    assert(all.length == 2)
    // the authority channel obeys the same contract
    val edges = graft.frontier.Discover.edgesFromPages(stored)(wave)
      .select("src").as[String].collect()
    assert(edges.toSeq == Seq("http://h.test/open"))
  }
}

class SniffedDiscoverySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("mime routing: html walks links, text extracts naked urls, binary is inert") {
    val pngish = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, 1, 2)
    val pages = Seq(
      ("http://m.test/html",
        "<html><body><a href=\"/child\">c</a></body></html>".getBytes("UTF-8")),
      ("http://m.test/txt",
        "see https://cited.test/doc. and nothing else".getBytes("UTF-8")),
      ("http://m.test/img", pngish),
      // server lied: served as a "page" but the bytes are plain text —
      // the html walker would find nothing; the router must
      ("http://m.test/liar",
        "mirror list: http://mirror.test/a http://mirror.test/b".getBytes("UTF-8")))
      .toDF("url", "html")
    val sched = pages.select(col("url").as("canonical_url"))
      .withColumn("seed_idx", lit(1L))
    val got = graft.frontier.Discover.fromPagesSniffed(pages)(sched)
      .select("url").as[String].collect().toSet
    assert(got == Set(
      "http://m.test/child",
      "https://cited.test/doc",
      "http://mirror.test/a",
      "http://mirror.test/b"))
  }
}

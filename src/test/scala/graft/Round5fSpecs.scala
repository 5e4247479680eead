package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class C4CleanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.text.CorpusFilter

  private def clean(text: String): (Int, Int, String, Boolean) = {
    val r = CorpusFilter.c4Clean(Seq((1L, text)).toDF("id", "t"), "t")
      .select("n_lines", "n_kept_lines", "kept_text", "c4_keep")
      .collect().head
    (r.getInt(0), r.getInt(1), r.getString(2), r.getBoolean(3))
  }

  test("line rules: terminal punct, min words, javascript boilerplate") {
    val text = Seq(
      "a perfectly fine prose sentence ends here.",
      "too short.",                                   // < 5 words
      "five words but no terminal punct",             // no punct
      "please enable JAVASCRIPT to continue reading.", // boilerplate
      "he said \"this quoted line is kept too\"",     // quote terminal
      "is this a kept question with enough words?",
      "exclamations with enough words also survive fine!").mkString("\n")
    val (nl, nk, kept, keep) = clean(text)
    assert(nl == 7 && nk == 4)
    assert(kept.split("\n").length == 4)
    assert(!kept.contains("JAVASCRIPT") && !kept.contains("too short"))
    assert(keep) // 4 kept >= 3, no lorem, no brace
  }

  test("doc rules read the ORIGINAL text: lorem ipsum and braces kill") {
    val base = Seq(
      "a perfectly fine prose sentence ends here.",
      "another perfectly fine prose sentence ends here.",
      "a third perfectly fine prose sentence ends here.")
    assert(clean(base.mkString("\n"))._4)
    assert(!clean((base :+ "Lorem Ipsum dolor sit amet today.").mkString("\n"))._4)
    assert(!clean((base :+ "code with a { brace is not prose ok.").mkString("\n"))._4)
  }

  test("min kept lines bounds the doc; trailing whitespace tolerated") {
    val two = Seq(
      "a perfectly fine prose sentence ends here.   ",
      "another perfectly fine prose sentence ends here.").mkString("\n")
    val (_, nk, _, keep) = clean(two)
    assert(nk == 2 && !keep)
  }

  test("empty and whitespace-only text") {
    assert(clean("") == (1, 0, "", false))
    assert(clean("   \n   ")._2 == 0)
  }

  test("CRLF documents clean identically to LF documents") {
    val lf = Seq(
      "a perfectly fine prose sentence ends here.",
      "another perfectly fine prose sentence ends here.",
      "a third perfectly fine prose sentence ends here.")
    val (nlL, nkL, keptL, keepL) = clean(lf.mkString("\n"))
    val (nlC, nkC, _, keepC) = clean(lf.mkString("\r\n"))
    assert((nlC, nkC, keepC) == ((nlL, nkL, keepL)))
    assert(nkC == 3 && keepC)
    assert(keptL.split("\n").length == 3)
  }
}

class FocusPrioritiesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.Anchors

  test("topical anchor evidence outranks filler; image-only links score nothing") {
    val pages = Seq(
      // 3 pages vouch for /hot with topic terms
      ("http://s1.test/a", "<a href=\"http://t.test/hot\">rust compiler borrow</a>"),
      ("http://s2.test/b", "<a href=\"http://t.test/hot\">rust compiler speed</a>"),
      ("http://s3.test/c", "<a href=\"http://t.test/hot\">the rust book</a>"),
      // /warm gets one topical mention, /cold only filler
      ("http://s1.test/d", "<a href=\"http://t.test/warm\">rust news</a>"),
      ("http://s2.test/e", "<a href=\"http://t.test/cold\">cat pictures daily</a>"),
      // an image-only anchor: no text evidence, target absent from ranking
      ("http://s3.test/f", "<a href=\"http://t.test/img\"><img src=\"x.png\"/></a>"))
      .toDF("url", "html")
    val q = Seq((0L, "rust compiler")).toDF("qid", "qtext")
    val out = Anchors.focusPriorities(pages, q, k = 10)
      .orderBy("rank").collect()
    val urls = out.map(_.getString(1)).toSeq
    assert(urls.head == "http://t.test/hot")
    assert(urls.contains("http://t.test/warm"))
    assert(!urls.contains("http://t.test/img"))
    // cold has zero matching terms → zero contribution rows → absent
    assert(!urls.contains("http://t.test/cold"))
  }

  test("pooled scores are invariant under anchor arrival order") {
    def score(rows: Seq[(String, String)]): Map[String, Long] =
      Anchors.focusPriorities(rows.toDF("url", "html"),
          Seq((0L, "alpha beta")).toDF("qid", "qtext"), k = 10)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val rows = Seq(
      ("http://s.test/1", "<a href=\"http://t.test/x\">alpha gamma</a>"),
      ("http://s.test/2", "<a href=\"http://t.test/x\">beta delta</a>"),
      ("http://s.test/3", "<a href=\"http://t.test/x\">alpha beta</a>"))
    assert(score(rows) == score(rows.reverse))
  }
}

class RegistrableDomainSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.url.UrlKit

  test("fold rule: eTLD+1 across suffix shapes, column ≡ scala") {
    val cases = Seq(
      "www.a.example.co.uk" -> "example.co.uk",
      "example.co.uk" -> "example.co.uk",
      "co.uk" -> "co.uk", // the suffix itself folds to itself
      "deep.b.shop.com.au" -> "shop.com.au",
      "a.b.example.com" -> "example.com",
      "example.com" -> "example.com",
      "user.github.io" -> "user.github.io",
      "x.user.github.io" -> "user.github.io",
      "localhost" -> "localhost",
      // trailing-dot FQDN form folds like its bare twin — and Java vs
      // Spark split() disagree on trailing empty labels, so the strip is
      // what keeps the two implementations in lockstep
      "www.example.co.uk." -> "example.co.uk",
      "a.b.example.com." -> "example.com",
      "" -> "")
    cases.foreach { case (h, want) =>
      assert(UrlKit.registrableDomain(h) == want, h)
    }
    val got = cases.map(_._1).toDF("h")
      .select(col("h"), graft.functions.registrable_domain(col("h")).as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (h, want) => assert(got(h) == want, s"column: $h") }
  }

  test("capPerDomain: subdomains share one budget; kept ∪ deferred == input") {
    val frontier = ((0 until 30).map(i =>
        (s"http://sub$i.farm.co.uk/p/$i", i.toLong)) ++
      (0 until 5).map(i => (s"http://ok$i.example.com/p/$i", (100 + i).toLong)))
      .toDF("canonical_url", "seed_idx")
    val (kept, deferred) = graft.frontier.Scheduler.capPerDomain(frontier, 10L)
    val k = kept.select("canonical_url").as[String].collect()
    val d = deferred.select("canonical_url").as[String].collect()
    assert(k.length + d.length == 35)
    assert(k.count(_.contains("farm.co.uk")) == 10) // 30 subdomains → one budget
    assert(k.count(_.contains("example.com")) == 5)
    // first-by-discovery-order: the kept farm urls are the lowest seed_idx
    val keptFarm = kept.where(col("canonical_url").contains("farm"))
      .select("seed_idx").as[Long].collect().toSet
    assert(keptFarm == (0L until 10L).toSet)
  }
}

class AdaptiveRefreshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.{Ledger, Revisit}

  test("ttl map: hot hosts to minTtl, frozen to maxTtl, no-evidence to maxTtl") {
    val rates = Seq(
      ("hot.test", Some(1000000L)),
      ("half.test", Some(500000L)),
      ("cold.test", Some(0L)),
      ("unknown.test", None)).toDF("host", "change_ppm")
    val got = Revisit.ttlFromChangeRates(rates, 2L, 10L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("hot.test" -> 2L, "half.test" -> 6L,
      "cold.test" -> 10L, "unknown.test" -> 10L))
  }

  test("adaptive staleness: per-host TTL binds; absent hosts use the default") {
    val committed = Seq(
      (1L, "http://hot.test/a", 0),   // age 5
      (2L, "http://cold.test/b", 0),  // age 5 < ttl 8 → fresh
      (3L, "http://new.test/c", 0))   // no ttl row → default 5 → stale
      .toDF("url_hash", "canonical_url", "wave")
    val ttls = Seq(("hot.test", 2L), ("cold.test", 8L)).toDF("host", "ttl_waves")
    val out = Ledger.staleFrontierAdaptiveFrom(committed, 5, ttls, 5L)
      .select("url", "age", "ttl_waves")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set(
      ("http://hot.test/a", 5, 2L),
      ("http://new.test/c", 5, 5L)))
  }
}

class LineDiffSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.Revisit

  test("set semantics, both-snapshots gate, duplicate lines count once") {
    val prev = Seq(
      ("u1", "a\nb\nb\nc"),      // dup 'b' counts once
      ("u2", "x\ny"),
      ("gone", "z")).toDF("url", "text")
    val cur = Seq(
      ("u1", "b\nc\nd"),          // -a +d, common {b,c}
      ("u2", "x\ny"),             // unchanged
      ("new", "w")).toDF("url", "text")
    val out = Revisit.lineDiff(prev, cur).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      "u1" -> ((1L, 1L, 2L)),
      "u2" -> ((0L, 0L, 2L))))
  }
}

class TextUrlsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("extraction: punct trim, paren fence, bare-scheme and non-url drops") {
    val got = Seq(
      "go to https://a.test/x. then (http://b.test/y?q=1), " +
        "ignore httpx://no and https:// alone",
      "no urls here at all",
      "trailing https://c.test/z!?").toDF("t")
      .select(graft.functions.text_urls(col("t")))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("https://a.test/x", "http://b.test/y?q=1"))
    assert(got(1) == Seq())
    assert(got(2) == Seq("https://c.test/z"))
  }
}

class ShuffleShardsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.pipeline.Pack

  test("global rank follows the order key; shards even to within one row") {
    val docs = (0L until 101L).map(i => (i, (i * 7919L) % 104729L))
      .toDF("id", "h")
    val out = Pack.shuffleShards(docs, "h", nShards = 8)
      .select("id", "h", "global_rank", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    // rank == position in ascending-h order
    val expected = out.sortBy(_._2).zipWithIndex
      .map { case ((id, _, _, _), i) => id -> i.toLong }.toMap
    out.foreach { case (id, _, rank, _) => assert(rank == expected(id), id) }
    // shards: 101 rows over 8 shards → sizes 13 or 12
    val sizes = out.groupBy(_._4).map(_._2.length)
    assert(sizes.max - sizes.min <= 1)
    // round-robin: shard = rank mod 8
    out.foreach { case (_, _, rank, shard) => assert(shard == (rank % 8)) }
  }

  test("segment count does not change the answer") {
    val docs = (0L until 64L).map(i => (i, (i * 31L) % 97L)).toDF("id", "h")
    def run(seg: Int) = Pack.shuffleShards(docs, "h", 4, segments = seg)
      .select("id", "global_rank").as[(Long, Long)].collect().toMap
    assert(run(1) == run(64))
  }
}

class HreflangSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.text.HtmlText

  test("kernel: rel token set, comment/raw-text blindness, attr requirements") {
    val html =
      """<html><head>
        |<!-- <link rel="alternate" hreflang="zz" href="/no"> -->
        |<script>var s = '<link rel="alternate" hreflang="yy" href="/no2">';</script>
        |<link rel="ALTERNATE stylesheet" hreflang="EN-us" href="/en">
        |<link rel="alternate" href="/no-lang">
        |<link rel="stylesheet" hreflang="fr" href="/style">
        |<link rel="alternate" hreflang="fr" href="/fr&amp;x">
        |</head></html>""".stripMargin
    val got = HtmlText.hreflangAlternates(html)
    assert(got == Vector(("en-us", "/en"), ("fr", "/fr&x")))
    assert(HtmlText.hreflangAlternates("<p>no links at all</p>") == Vector())
    assert(HtmlText.hreflangAlternates(null) == Vector())
  }

  test("clusters: asymmetric declarations still close into one group") {
    // only the EN page declares; FR and DE carry nothing — components
    // closure must still produce one 3-member cluster
    val pages = Seq(
      ("http://en.s.test/a",
        """<link rel="alternate" hreflang="fr" href="http://fr.s.test/a">""" +
        """<link rel="alternate" hreflang="de" href="http://de.s.test/a">"""),
      ("http://fr.s.test/a", "<p>nichts</p>"),
      ("http://q.test/solo", "<p>alone</p>"))
      .toDF("url", "html")
    val out = graft.frontier.Alternates.clusters(pages)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out.keySet == Set("http://en.s.test/a", "http://fr.s.test/a",
      "http://de.s.test/a"))
    out.values.foreach { case (rep, size) =>
      assert(rep == "http://de.s.test/a" && size == 3L)
    }
  }
}

class WetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.sources.Warc

  test("conversion record round-trips with the provenance edge") {
    val date = "2024-01-01T00:00:00Z"
    val img = Warc.writeFile(Seq(
      Warc.writeConversion("http://a.test/1", date, "extrahierter text".getBytes("UTF-8")),
      Warc.writeRecord("response", "http://a.test/1", date, "<p>x</p>".getBytes("UTF-8"))))
    val recs = Warc.records(img)
    assert(recs.map(_.warcType) == Vector("conversion", "response"))
    val conv = recs.head
    assert(new String(conv.payload, "UTF-8") == "extrahierter text")
    // WARC-Refers-To names exactly the response record's id
    val respId = Warc.recordId("response", "http://a.test/1", date)
    assert(conv.refersTo == respId)
    assert(conv.refersTo.nonEmpty && recs(1).refersTo.isEmpty)
  }

  test("WET file sink + ingestion: text equals the engine's extraction") {
    val dir = java.nio.file.Files.createTempDirectory("wet").toString
    val pages = (0 until 20).map { i =>
      (s"http://w.test/p/$i",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        s"<html><body><p>inhalt $i</p><script>var x;</script></body></html>"
          .getBytes("UTF-8"))
    }.toDF("url", "warc_ts", "html")
    val n = Warc.writeWetToFiles(pages.repartition(3), s"$dir/wet")
    assert(n == 20)
    val back = Warc.textsFromFiles(spark, s"$dir/wet")
      .select("url", "text", "refers_to")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(back.length == 20)
    // extraction parity: the sidecar carries extract_readable(html)
    val expected = pages
      .select(col("url"),
        graft.functions.extract_readable(col("html").cast("string")))
      .as[(String, String)].collect().toMap
    back.foreach { case (url, text, ref) =>
      assert(text == expected(url), url)
      assert(ref == Warc.recordId("response", url, "2024-02-01T00:00:00Z"))
    }
  }

  test("empty corpus exports 0 shards, not a crash") {
    val dir = java.nio.file.Files.createTempDirectory("wet0").toString
    val empty = Seq.empty[(String, java.sql.Timestamp, Array[Byte])]
      .toDF("url", "warc_ts", "html")
    assert(Warc.writeWetToFiles(empty, s"$dir/wet") == 0L)
    assert(Warc.writePagesToFiles(empty, s"$dir/warc") == 0L)
  }
}

class RefreshDueSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.Sitemap

  test("changefreqSeconds: vocabulary, case-insensitivity, null family") {
    val got = Seq("always", "HOURLY", " daily ", "weekly", "monthly",
        "yearly", "never", "sometimes", "").toDF("s")
      .select(Sitemap.changefreqSeconds(col("s"))).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(got == Seq(0L, 3600L, 86400L, 604800L, 2592000L, 31536000L,
      -1L, -1L, -1L))
  }

  test("refreshDue: reason branches and the lastmod-suppresses-ttl rule") {
    def url(p: String) = s"<loc>http://r.test/$p</loc>"
    val sitemaps = Seq(
      // hourly TTL, no lastmod, fetched long ago → ttl_expired
      s"<urlset><url>${url("ttl")}<changefreq>hourly</changefreq></url>" +
        // lastmod OLDER than the fetch + hourly → site says unchanged,
        // the TTL hint must NOT fire
        s"<url>${url("calm")}<lastmod>2024-01-01</lastmod>" +
        "<changefreq>hourly</changefreq></url>" +
        // lastmod newer → modified
        s"<url>${url("hot")}<lastmod>2024-02-01</lastmod></url>" +
        // never in a sitemap but never fetched
        s"<url>${url("new")}<changefreq>never</changefreq></url>" +
        // changefreq never + fetched + no lastmod → no verdict
        s"<url>${url("nv")}<changefreq>never</changefreq></url></urlset>")
      .toDF("xml")
    val fetched = Seq("ttl", "calm", "hot", "nv")
      .map(p => (s"http://r.test/$p", java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
      .toDF("url", "fetched_at")
    val out = Sitemap.refreshDue(sitemaps, fetched,
        to_timestamp(lit("2024-03-01 00:00:00")))
      .select("url", "reason").as[(String, String)].collect().toMap
    assert(out == Map(
      "http://r.test/ttl" -> "ttl_expired",
      "http://r.test/hot" -> "modified",
      "http://r.test/new" -> "never_fetched"))
  }

  test("refreshDue: per-url aggregation — eager ttl, max priority, newest lastmod") {
    val sitemaps = Seq(
      "<urlset><url><loc>http://r.test/p</loc>" +
        "<changefreq>yearly</changefreq><priority>0.2</priority></url></urlset>",
      "<urlset><url><loc>http://r.test/p</loc>" +
        "<changefreq>hourly</changefreq><priority>0.9</priority></url></urlset>")
      .toDF("xml")
    val fetched = Seq(("http://r.test/p",
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("url", "fetched_at")
    val out = Sitemap.refreshDue(sitemaps, fetched,
        to_timestamp(lit("2024-03-01 00:00:00"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(1) == "ttl_expired") // min ttl = hourly fired
    assert(r.getLong(2) == math.floor(0.9 * 1000000L).toLong)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Decontaminate
import graft.text.{CorpusFilter, Pii}
import graft.sources.Warc

class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val a = "one two three four five six seven eight nine ten"
  private val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  test("planted overlap: exact counts and ppm") {
    val corpus = Seq((1L, a), (2L, b)).toDF("id", "text")
    val eval = Seq("three four five six seven").toDF("eval_text")
    val out = Decontaminate.contamination(corpus, "id", "text", eval, "eval_text", n = 3)
      .orderBy("id").collect()
    // a: 8 trigrams, 3 hit ("three four five","four five six","five six seven")
    assert(out(0).getAs[Long]("n_ngrams") == 8)
    assert(out(0).getAs[Long]("n_hit") == 3)
    assert(out(0).getAs[Long]("frac_ppm") == 375000L)
    // b: disjoint vocabulary
    assert(out(1).getAs[Long]("n_hit") == 0)
    assert(out(1).getAs[Long]("frac_ppm") == 0L)
  }

  test("texts shorter than n yield zero ngrams, zero ppm (no descending sequence)") {
    val corpus = Seq((1L, "just two"), (2L, null)).toDF("id", "text")
    val eval = Seq("just two").toDF("eval_text")
    // the null text has no ngrams in either ANSI mode (size(NULL) is -1
    // with ANSI off and NULL with it on)
    val ansiKey = "spark.sql.ansi.enabled"
    val ansiBefore = spark.conf.getOption(ansiKey)
    try Seq("false", "true").foreach { ansi =>
      spark.conf.set(ansiKey, ansi)
      val got = Decontaminate.contamination(corpus, "id", "text", eval, "eval_text", n = 13)
        .select("id", "n_ngrams", "n_hit", "frac_ppm").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(got(1L) == Seq(0L, 0L, 0L), s"short doc (ansi=$ansi)")
      assert(got(2L) == Seq(0L, 0L, 0L), s"null-text doc (ansi=$ansi)")
    } finally ansiBefore match {
      case Some(v) => spark.conf.set(ansiKey, v)
      case None => spark.conf.unset(ansiKey)
    }
  }

  test("doc-frequency cap drops boilerplate grams (the skew/precision gate)") {
    // a 3-token boilerplate suffix shared by ALL corpus docs and the eval
    // set: exactly the license-header shape the cap exists for
    val boiler = " common legal footer"
    val corpus = Seq.tabulate(50)(i => (i.toLong, s"w${i}a w${i}b w${i}c$boiler"))
      .toDF("id", "text")
    val eval = Seq(s"unrelated eval query$boiler").toDF("eval_text")
    val uncapped = Decontaminate.contamination(corpus, "id", "text", eval, "eval_text",
      n = 3, maxDocFreq = 0)
    // every doc contains the boiler trigram → everything looks contaminated
    assert(uncapped.where(col("n_hit") > 0).count() == 50)
    val capped = Decontaminate.contamination(corpus, "id", "text", eval, "eval_text",
      n = 3, maxDocFreq = 10)
    // df(boiler gram) = 50 > 10 → dropped inside the gate
    assert(capped.where(col("n_hit") > 0).count() == 0)
  }

  test("killList honors minHits") {
    val corpus = Seq((1L, a), (2L, b)).toDF("id", "text")
    val eval = Seq("three four five six seven").toDF("eval_text")
    assert(Decontaminate.killList(corpus, "id", "text", eval, "eval_text", n = 3)
      .collect().map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(Decontaminate.killList(corpus, "id", "text", eval, "eval_text", n = 3,
      minHits = 4L).count() == 0)
  }

  test("eval side broadcasts; no cartesian anywhere") {
    val corpus = Seq((1L, a), (2L, b)).toDF("id", "text")
    val eval = Seq("three four five six seven").toDF("eval_text")
    val plan = Decontaminate.contamination(corpus, "id", "text", eval, "eval_text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}

class MixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def u = CorpusFilter.uniformHash(col("id"), salt = 42L)

  test("integer weights are exact copy counts; zero weight drops") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c")).toDF("id", "source")
    val out = CorpusFilter.sampleBySource(docs, "source",
      Map("a" -> 3.0, "b" -> 0.0), defaultWeight = 1.0, u = u)
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("a") == 6) // 2 docs × exactly 3 copies
    assert(!bySource.contains("b")) // dropped
    assert(bySource("c") == 1)
    // copies are numbered 1..k
    assert(out.where(col("id") === 1L).select("copy").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("fractional weights keep E[copies] = w and are deterministic") {
    val docs = spark.range(10000).select(col("id"), lit("s").as("source"))
    val out = CorpusFilter.sampleBySource(docs, "source", Map("s" -> 0.25),
      defaultWeight = 1.0, u = u)
    val n = out.count()
    assert(math.abs(n - 2500.0) < 150, s"kept $n of 10000 at w=0.25")
    // deterministic: same input, same u, same decisions
    val again = CorpusFilter.sampleBySource(docs, "source", Map("s" -> 0.25),
      defaultWeight = 1.0, u = u)
    assert(again.select("id").except(out.select("id")).count() == 0)
    assert(out.select("id").except(again.select("id")).count() == 0)
  }

  test("one narrow projection: no shuffle, no join in the plan") {
    val docs = spark.range(100).select(col("id"), lit("s").as("source"))
    val plan = CorpusFilter.sampleBySource(docs, "source", Map("s" -> 2.5),
      defaultWeight = 1.0, u = u).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("temperature weights: sqrt proportions, E[total] = targetDocs") {
    // skewed corpus: 8000 / 1500 / 500 docs per source
    val docs = spark.range(10000).select(col("id"),
      when(col("id") < 8000, "big").when(col("id") < 9500, "mid")
        .otherwise("tail").as("source"))
    val w = CorpusFilter.temperatureWeights(docs, "source", targetDocs = 5000L)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("weight"))).toMap
    // fixed-point reference: s_fp = floor(sqrt(n) * 2^20), w = K*s/(T*n)
    val sfp = Map("big" -> 8000L, "mid" -> 1500L, "tail" -> 500L)
      .view.mapValues(n => math.floor(math.sqrt(n.toDouble) * (1L << 20)).toLong).toMap
    val t = sfp.values.sum
    for ((src, n) <- Seq(("big", 8000L), ("mid", 1500L), ("tail", 500L))) {
      assert(w(src)._1 == n)
      assert(w(src)._2 == 5000.0 * sfp(src) / (t.toDouble * n), src)
    }
    // temperature lifts the tail above its flat share and cuts the head
    assert(w("tail")._2 > w("mid")._2 && w("mid")._2 > w("big")._2)
    assert(w("big")._2 < 0.4 && w("tail")._2 > 1.4)
    // E[sampled total] = Σ n_s · w_s = targetDocs (up to fp rounding)
    val e = Seq(("big", 8000L), ("mid", 1500L), ("tail", 500L))
      .map { case (s, n) => n * w(s)._2 }.sum
    assert(math.abs(e - 5000.0) < 1.0, s"E[total] = $e")
    // realized sample lands near the expectation, deterministically
    val out = CorpusFilter.sampleByTemperature(docs, "source", 5000L, u = u)
    val got = out.count()
    assert(math.abs(got - 5000.0) < 200, s"sampled $got, want ≈5000")
    val again = CorpusFilter.sampleByTemperature(docs, "source", 5000L, u = u)
    assert(again.select("id", "copy").except(out.select("id", "copy")).count() == 0)
  }

  test("linkDensity: nav-heavy page scores high, prose page low") {
    val rows = Seq(
      // prose: 40 non-ws text chars, one 4-char anchor → ppm = 4e6/44
      (1L, "<p>x</p><a href=\"/a\">link</a>", "w" * 40),
      // nav page: tiny text, three 6-char anchors
      (2L, "<a href=\"/1\">nav on</a><a href=\"/2\">nav tw</a><a href=\"/3\">nav th</a>",
        "hi all"),
      // no links at all
      (3L, "<p>plain</p>", "some words here")).toDF("doc_id", "html", "text")
    val got = CorpusFilter.linkDensity(rows, "html", "text")
      .select("doc_id", "n_links", "anchor_chars", "text_chars", "link_density_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 1L, 4L, 40L, 4L * 1000000 / 44)))
    assert(got(1) == ((2L, 3L, 15L, 5L, 15L * 1000000 / 20))) // 'nav on' = 5 non-ws
    assert(got(2) == ((3L, 0L, 0L, 13L, 0L)))
    assert(got(1)._5 > 500000L && got(0)._5 < 100000L) // the verdict gap
  }

  test("temperature alpha = 1 degenerates to uniform rate K/N") {
    val docs = spark.range(1000).select(col("id"),
      when(col("id") % 4 === 0, "a").otherwise("b").as("source"))
    val w = CorpusFilter.temperatureWeights(docs, "source",
        targetDocs = 500L, alpha = 1.0)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("weight")).toMap
    // n^1 proportions: every source samples at the same K/N rate
    assert(math.abs(w("a") - 0.5) < 1e-6, w.toString)
    assert(math.abs(w("b") - 0.5) < 1e-6, w.toString)
  }
}

class PiiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def scrubOne(s: String): String =
    Seq(s).toDF("t").select(Pii.scrub(col("t")).as("r")).collect()(0).getString(0)

  test("each category redacts; counts match") {
    val t = "mail a.b+c@ex-site.org or 10.0.3.7 or 555-867-5309 end"
    assert(scrubOne(t) == "mail <EMAIL> or <IP> or <PHONE> end")
    val r = Pii.withRedactions(Seq((1L, t)).toDF("id", "text"), "text").collect()(0)
    assert(r.getAs[Long]("n_emails") == 1 && r.getAs[Long]("n_ips") == 1
      && r.getAs[Long]("n_phones") == 1)
  }

  test("planted negatives survive: version strings, 5-3-4 digits, TLD-less address") {
    for (neg <- Seq("v1.2.3", "12345-678-9012", "not@an", "1.2.3.4567", "55-867-5309"))
      assert(scrubOne(s"keep $neg here") == s"keep $neg here", neg)
  }

  test("idempotence: scrub(scrub(x)) == scrub(x) on adversarial inputs") {
    val inputs = Seq(
      "a@b.co 1.2.3.4 555-123-4567",
      "<EMAIL> already scrubbed",
      "x@y.zz@w.vv", // overlapping candidates
      "999.999.999.999 000-000-0000")
    for (t <- inputs) {
      val once = scrubOne(t)
      assert(scrubOne(once) == once, t)
    }
  }
}

class WarcFilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val date = "2024-03-01T12:30:00Z"

  test("pagesFromFiles reads a directory of .warc.gz files; malformed file contained") {
    val dir = java.nio.file.Files.createTempDirectory("warcdir")
    def fileOf(urls: Seq[String]): Array[Byte] =
      Warc.writeFileGz(
        Warc.writeRecord("warcinfo", "", date, "software: graft\r\n".getBytes("UTF-8")) +:
          urls.map(u => Warc.writeRecord("response", u, date, s"<p>$u</p>".getBytes("UTF-8"))))
    java.nio.file.Files.write(dir.resolve("a.warc.gz"),
      fileOf(Seq("http://a.test/1", "http://a.test/2")))
    java.nio.file.Files.write(dir.resolve("b.warc.gz"), fileOf(Seq("http://b.test/1")))
    java.nio.file.Files.write(dir.resolve("junk.warc.gz"), "not a warc".getBytes)
    java.nio.file.Files.write(dir.resolve("ignored.txt"), "skip me".getBytes)
    val pages = Warc.pagesFromFiles(spark, dir.toString)
    val rows = pages.orderBy("url").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("http://a.test/1", "http://a.test/2", "http://b.test/1"))
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("html"), "UTF-8")
      .startsWith("<p>http://")))
    assert(rows.forall(!_.isNullAt(1))) // warc_ts parsed
  }

  test("WARC-Date variants parse inside containment: fractional seconds, offsets, garbage") {
    import spark.implicits._
    val recs = Seq(
      Warc.writeRecord("response", "http://a.test/frac", "2024-01-01T00:00:00.123Z", "x".getBytes),
      Warc.writeRecord("response", "http://a.test/off", "2024-01-01T05:30:00+05:30", "x".getBytes),
      Warc.writeRecord("response", "http://a.test/bad", "yesterday-ish", "x".getBytes))
    val blobs = Seq(Warc.writeFile(recs)).toDF("warc")
    val out = Warc.pages(blobs).orderBy("url").collect()
    assert(out.length == 3) // no task failure, no dropped rows
    val byUrl = out.map(r => r.getString(0) -> r).toMap
    assert(!byUrl("http://a.test/frac").isNullAt(1))
    // +05:30 offset resolves to the same instant as midnight UTC
    assert(byUrl("http://a.test/off").getTimestamp(1).toInstant
      == java.time.Instant.parse("2024-01-01T00:00:00Z"))
    assert(byUrl("http://a.test/bad").isNullAt(1)) // unparseable → null, row kept
  }

  test("record IDs are unique across distinct URIs and dates") {
    def idOf(rec: Array[Byte]): String = {
      val s = new String(rec, "US-ASCII")
      "WARC-Record-ID: <([^>]+)>".r.findFirstMatchIn(s).get.group(1)
    }
    val ids = Seq(
      idOf(Warc.writeRecord("response", "http://a.test/1", date, "x".getBytes)),
      idOf(Warc.writeRecord("response", "http://a.test/2", date, "x".getBytes)),
      idOf(Warc.writeRecord("response", "http://a.test/1", "2025-01-01T00:00:00Z", "x".getBytes)),
      idOf(Warc.writeRecord("request", "http://a.test/1", date, "x".getBytes)))
    assert(ids.distinct.length == ids.length, ids)
  }
}

class WavBoundsSpec extends AnyFunSuite {
  test("crafted chunk length near Int.MaxValue rejects cleanly (Long bound math)") {
    val good = graft.multimodal.Wav.encode(8000, 1, Array[Short](1, 2, 3, 4))
    // corrupt the fmt chunk length field (offset 16..19) to a huge value
    val evil = good.clone()
    val len = Int.MaxValue - 4
    evil(16) = (len & 0xff).toByte
    evil(17) = ((len >> 8) & 0xff).toByte
    evil(18) = ((len >> 16) & 0xff).toByte
    evil(19) = ((len >> 24) & 0xff).toByte
    val e = intercept[IllegalArgumentException](graft.multimodal.Wav.decode(evil))
    assert(e.getMessage.contains("truncated"), e.getMessage)
  }
}

class PackIntColSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("INT order/value columns work (documented 'integral', not just LONG)") {
    val df = spark.range(100).select(
      col("id").cast("int").as("ord"), lit(7).cast("int").as("toks"))
    val out = graft.pipeline.Pack.packByTokenBudget(df, "ord", "toks", budget = 64L)
    assert(out.count() == 100)
    val r = out.where(col("ord") === 10).collect()(0)
    assert(r.getAs[Long]("bin_start") == 70L / 64L)
  }
}

class DupSpansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("planted repeated phrase yields the exact merged span; unique docs stay clean") {
    // "p1 p2 p3 p4" repeats in docs 1 and 2 (k=3 → windows at two offsets
    // that overlap-merge into one span per doc); doc 3 is all-unique
    val docs = Seq(
      (1L, "a1 a2 p1 p2 p3 p4 a3 a4 a5"),
      (2L, "b1 p1 p2 p3 p4 b2 b3"),
      (3L, "c1 c2 c3 c4 c5 c6 c7")).toDF("id", "text")
    val spans = graft.dedup.Dedup.duplicateSpans(docs, "id", "text", k = 3)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows")))
    // doc 1: tokens 2..5 are the repeat → windows p=2,3 merge → span [2,5]
    // doc 2: tokens 1..4 → windows p=1,2 → span [1,4]
    assert(spans.toSeq == Seq((1L, 2L, 5L, 2L), (2L, 1L, 4L, 2L)))
  }

  test("whole-doc duplicate covers the full token range; within-doc repeats count too") {
    val t = "x1 x2 x3 x4 x5 x6"
    val docs = Seq((1L, t), (2L, t)).toDF("id", "text")
    val spans = graft.dedup.Dedup.duplicateSpans(docs, "id", "text", k = 3)
      .orderBy("id").collect()
    assert(spans.length == 2)
    assert(spans.forall(r => r.getAs[Long]("span_start") == 0L
      && r.getAs[Long]("span_end") == 5L && r.getAs[Long]("n_windows") == 4L))
    // same doc repeating its own phrase is also a duplicate
    val selfRep = Seq((1L, "r1 r2 r3 z1 z2 r1 r2 r3")).toDF("id", "text")
    val s2 = graft.dedup.Dedup.duplicateSpans(selfRep, "id", "text", k = 3)
      .orderBy("span_start").collect()
    assert(s2.map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))).toSeq
      == Seq((0L, 2L), (5L, 7L)))
  }

  test("short docs (< k tokens) emit nothing and do not break the explode") {
    val docs = Seq((1L, "only two"), (2L, "only two")).toDF("id", "text")
    assert(graft.dedup.Dedup.duplicateSpans(docs, "id", "text", k = 5).count() == 0)
  }
}

class WarcSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("writePagesToFiles -> pagesFromFiles round-trips pages exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warcsink").toString
    val pages = spark.range(37).select(
      concat(lit("http://s.test/d/"), col("id").cast("string")).as("url"),
      to_timestamp(lit("2024-03-01 12:30:00")).as("warc_ts"),
      encode(concat(lit("<p>doc "), col("id").cast("string"), lit("</p>")), "UTF-8")
        .as("html"))
      .repartition(4)
    val n = graft.sources.Warc.writePagesToFiles(pages, dir)
    assert(n == 37)
    // one .warc.gz shard per non-empty partition
    val shards = new java.io.File(dir).list().filter(_.endsWith(".warc.gz")).toSeq
    assert(shards.nonEmpty && shards.size <= 4, shards)
    val back = graft.sources.Warc.pagesFromFiles(spark, dir).orderBy("url")
    val rows = back.collect()
    assert(rows.length == 37)
    assert(rows.forall(r => new String(r.getAs[Array[Byte]]("html"), "UTF-8")
      == s"<p>doc ${r.getString(0).stripPrefix("http://s.test/d/")}</p>"))
    assert(rows.forall(_.getTimestamp(1).toInstant
      == java.time.Instant.parse("2024-03-01T12:30:00Z")))
  }
}

class SpanCutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.dedup.Dedup

  test("keepFirst: first occurrence survives, later copies are cut") {
    val t = "x1 x2 x3 x4 x5"
    val docs = Seq((1L, t), (2L, t), (3L, s"pre $t post")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(docs, "id", "text", k = 3, keepFirst = true)
    // doc 1 holds the first occurrences of every gram → untouched
    assert(spans.where(col("id") === 1L).count() == 0)
    val cut = Dedup.cutSpans(docs, "id", "text", spans).orderBy("id").collect()
    assert(cut(0).getAs[String]("text_cut") == t) // survivor intact
    assert(cut(0).getAs[Long]("n_tokens_cut") == 0L)
    assert(cut(1).getAs[String]("text_cut") == "") // verbatim copy fully cut
    assert(cut(1).getAs[Long]("n_tokens_cut") == 5L)
    // doc 3: the embedded copy is cut, its own framing survives
    assert(cut(2).getAs[String]("text_cut") == "pre post")
  }

  test("keepFirst within one doc: the repeat is cut, the original kept") {
    val docs = Seq((1L, "r1 r2 r3 z1 z2 r1 r2 r3")).toDF("id", "text")
    val spans = Dedup.duplicateSpans(docs, "id", "text", k = 3, keepFirst = true)
      .collect()
    assert(spans.map(r => (r.getAs[Long]("span_start"), r.getAs[Long]("span_end")))
      .toSeq == Seq((5L, 7L)))
    val cut = Dedup.cutSpans(Seq((1L, "r1 r2 r3 z1 z2 r1 r2 r3")).toDF("id", "text"),
      "id", "text", Dedup.duplicateSpans(
        Seq((1L, "r1 r2 r3 z1 z2 r1 r2 r3")).toDF("id", "text"),
        "id", "text", k = 3, keepFirst = true)).collect()(0)
    assert(cut.getAs[String]("text_cut") == "r1 r2 r3 z1 z2")
  }

  test("maxOccurrences excludes mega-grams from span marking") {
    val boiler = "b1 b2 b3"
    val docs = Seq.tabulate(20)(i => (i.toLong, s"u${i}a u${i}b $boiler")).toDF("id", "text")
    val uncapped = Dedup.duplicateSpans(docs, "id", "text", k = 3)
    assert(uncapped.count() == 20) // the boiler gram marks every doc
    val capped = Dedup.duplicateSpans(docs, "id", "text", k = 3, maxOccurrences = 10L)
    assert(capped.count() == 0)
  }
}

class CrawlRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Crawl --rank-every: authority scores computed from real page links, crawl completes") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // p0 links to p1 and p2; p1 and p2 both link to p3 (the authority)
    def page(i: Int, hrefs: Seq[Int]) = {
      val links = hrefs.map(j => s"""<a href="/p/$j">l</a>""").mkString
      graft.Schemas.Page(s"http://crawl.test/p/$i", ts,
        s"<html><body><h1>Page $i</h1><p>w $i</p>$links</body></html>".getBytes("UTF-8"),
        s"Page $i\nw $i", "en")
    }
    val pages = Seq(page(0, Seq(1, 2)), page(1, Seq(3)), page(2, Seq(3)), page(3, Seq.empty))
    val ptRoot = java.nio.file.Files.createTempDirectory("crawlptRank").toString
    graft.sources.PageTable.commit(spark, ptRoot, spark.createDataset(pages).toDF())
    val out = java.nio.file.Files.createTempDirectory("crawloutRank").toString
    val results = Crawl.run(spark, Crawl.Args(
      pages = ptRoot, out = out, waves = 3, gapSeconds = 3,
      urls = Seq("http://crawl.test/p/0"), rankEvery = Some(1)))
    assert(results.select("url").as[String].collect().toSet ==
      (0 to 3).map(i => s"http://crawl.test/p/$i").toSet)
    // the authority channel persisted edges per wave and committed scores
    assert(graft.core.Fs.exists(s"$out/frontier/rank/scores/_SUCCESS"))
    val scores = spark.read.parquet(s"$out/frontier/rank/scores")
    // p3 (two in-links) outranks p1/p2 (one each) outranks p0 (none)
    val byNode = scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def h(u: String) = org.apache.spark.sql.functions.xxhash64(lit(u))
    val hashes = spark.range(1).select(
      (0 to 3).map(i => h(s"http://crawl.test/p/$i").as(s"h$i")): _*).collect()(0)
    val s3 = byNode(hashes.getLong(3)); val s1 = byNode(hashes.getLong(1))
    val s0 = byNode(hashes.getLong(0))
    assert(s3 > s1 && s1 > s0, s"scores not ordered by authority: $byNode")
  }
}

class UrlGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("blocklist matches host and parent domains; path words screen; clean passes") {
    val f = Seq(
      (1L, "http://ads.bad.test/x"),        // parent-domain match
      (2L, "http://bad.test/y"),            // exact match
      (3L, "http://good.test/z"),           // clean
      (4L, "http://good.test/casino/slots"),// path word
      (5L, "http://sub.ads.other.test/w"),  // exact entry ads.other.test via suffix
      (6L, "http://other.test/v"))          // NOT blocked by the ads.other.test entry
      .toDF("id", "url")
    val blocked = Seq("bad.test", "ads.other.test").toDF("host")
    val out = graft.url.UrlGate.gate(f, "url", blocked, Seq("casino"))
      .select("id", "url_ok", "url_reasons").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getSeq[String](2))).toMap
    assert(out(1L) == (false, Seq("blocked_host")))
    assert(out(2L) == (false, Seq("blocked_host")))
    assert(out(3L) == (true, Seq()))
    assert(out(4L) == (false, Seq("bad_path_word")))
    assert(out(5L) == (false, Seq("blocked_host")))
    assert(out(6L) == (true, Seq()))
    // allowed() keeps original columns only
    assert(graft.url.UrlGate.allowed(f, "url", blocked, Seq("casino"))
      .columns.toSeq == Seq("id", "url"))
  }

  test("blocklist join rides distinct hosts, broadcast — no frontier-wide shuffle") {
    val f = spark.range(1000).select(col("id"),
      concat(lit("http://h"), pmod(col("id"), lit(5)).cast("string"),
        lit(".test/p/"), col("id").cast("string")).as("url"))
    val blocked = Seq("h1.test").toDF("host")
    val gated = graft.url.UrlGate.gate(f, "url", blocked, Seq.empty)
    assert(gated.where(!col("url_ok")).count() == 200)
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}

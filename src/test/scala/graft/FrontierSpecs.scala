package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.frontier.{Robots, Scheduler, Seen}

class SchedulerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def skewedFrontier(n: Int) = {
    // one mega-host owns 60% of urls — the crawl-skew case
    (0 until n).map { i =>
      val host = if (i % 10 < 6) "mega.test" else s"h${i % 10}.test"
      (s"http://$host/p/$i", graft.url.UrlKit.hostReverse(host), i.toLong)
    }.toDF("url", "host_rev", "seed_idx")
  }

  test("salted rank == plain window rank (incl. skewed host)") {
    val f = skewedFrontier(5000)
    val plain = Scheduler.perHostRank(f, col("host_rev"), col("seed_idx"))
      .select("host_rev", "seed_idx", "host_pos")
    val salted = Scheduler.perHostRankSalted(f, "host_rev", "seed_idx", bucketWidth = 100L)
      .select("host_rev", "seed_idx", "host_pos")
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("offsets shuffle-join fallback == plain window on a 10^6-host fixture") {
    // 10^8-host scale path: the offsets frame outgrows any broadcast, so the
    // rank must be identical through the co-partitioned shuffle join
    val f = spark.range(1000000L).select(
      concat(lit("t.h"), (col("id") % 1000000L).cast("string")).as("host_rev"),
      col("id").as("seed_idx"))
      // a mega-host on top, so the fallback also sees skew
      .unionByName(spark.range(5000L).select(lit("t.mega").as("host_rev"),
        (col("id") + 2000000L).as("seed_idx")))
    val salted = graft.frontier.Scheduler
      .perHostRankSalted(f, "host_rev", "seed_idx", bucketWidth = 50000L,
        offsetsJoin = "shuffle")
    assert(salted.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
      "fallback did not use a shuffle join")
    val plain = graft.frontier.Scheduler
      .perHostRank(f, col("host_rev"), col("seed_idx"))
    val diff = salted.select("host_rev", "seed_idx", "host_pos")
      .exceptAll(plain.select("host_rev", "seed_idx", "host_pos"))
    assert(diff.isEmpty)
  }

  test("politeness: per-host slots are gap-separated and ordered by seed_idx") {
    val sched = Scheduler.schedule(skewedFrontier(500), gapSeconds = 3).collect()
    val byHost = sched.groupBy(_.getAs[String]("host_rev"))
    for ((_, rows) <- byHost) {
      val sorted = rows.sortBy(_.getAs[Long]("host_pos"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Long]("slot") == i * 3L)
      }
      // within a host, order follows seed_idx
      assert(sorted.map(_.getAs[Long]("seed_idx")).toSeq ==
        rows.map(_.getAs[Long]("seed_idx")).sorted.toSeq)
    }
  }

  test("degenerate single host reproduces pure seed order (ref :202 bridge)") {
    val f = (0 until 100).map(i => (s"http://one.test/$i", "test.one", i.toLong))
      .toDF("url", "host_rev", "seed_idx")
    val order = Scheduler.schedule(f, gapSeconds = 3)
      .orderBy("slot", "host_rev", "seed_idx")
      .select("seed_idx").as[Long].collect().toSeq
    assert(order == (0L until 100L))
  }

  test("scheduling is partitioning-invariant (1 vs 8 partitions)") {
    val f = skewedFrontier(2000)
    def run(parts: Int) = Scheduler.schedule(f.repartition(parts), gapSeconds = 3)
      .orderBy("slot", "host_rev", "seed_idx")
      .select("url").as[String].collect().toSeq
    assert(run(1) == run(8))
  }

  test("in-degree priority: heavily-linked urls jump the per-host queue") {
    val fr = Seq(
      ("http://a.test/1", 1L), ("http://a.test/2", 2L),
      ("http://a.test/3", 3L), ("http://a.test/4", 4L)
    ).toDF("url", "seed_idx").withColumn("host_rev", lit("test.a"))
    val edges = Seq(
      "http://a.test/4", "http://a.test/4", "http://a.test/4",
      "http://a.test/2").toDF("url")
    val got = Scheduler.schedule(
        Scheduler.inDegreePriority(fr, edges), orderCol = "order_key")
      .orderBy("host_pos").select("seed_idx").as[Long].collect().toSeq
    // in-degree 3 first, then 1, then the two 0-degree urls in seed order
    assert(got == Seq(4L, 2L, 1L, 3L))
  }

  test("priority order key: higher priority first within a host, seed order as tiebreak") {
    val f = Seq(
      ("http://a.test/1", "test.a", 1L, 5L), // highest priority → host_pos 1
      ("http://a.test/2", "test.a", 2L, 0L),
      ("http://a.test/3", "test.a", 3L, 5L), // same priority, later seed
      ("http://a.test/4", "test.a", 4L, 9L)
    ).toDF("url", "host_rev", "seed_idx", "priority")
      .withColumn("order_key", Scheduler.priorityOrderKey(col("priority"), col("seed_idx")))
    val got = Scheduler.schedule(f, orderCol = "order_key")
      .orderBy("host_pos").select("seed_idx").as[Long].collect().toSeq
    assert(got == Seq(4L, 1L, 3L, 2L))
    // cap: a priority beyond the cap saturates rather than wrapping negative
    val ks = Seq((0L, Long.MaxValue), (7L, -5L)).toDF("seed_idx", "priority")
      .select(col("seed_idx"),
        Scheduler.priorityOrderKey(col("priority"), col("seed_idx")).as("k"))
      .as[(Long, Long)].collect().toMap
    assert(ks(0L) == 0L) // above-cap saturates to the front
    // negative clamps to 0 (lowest priority), never wraps the multiply
    assert(ks(7L) == ((1L << 20) - 1) * (1L << 40) + 7L && ks(7L) > 0L)
  }

  test("adaptive gaps: error-rate backoff, error-free host keeps the base gap") {
    val metrics = Seq(
      ("err.test", 200), ("err.test", 404), ("err.test", 451), ("err.test", 404),
      ("ok.test", 200), ("ok.test", 200),
      ("denied.test", 451), ("denied.test", 451), ("denied.test", 200),
      ("policy.test", 452), ("policy.test", 200)
    ).toDF("host", "status")
    val gaps = Scheduler.adaptiveGaps(metrics, base = 1L, scale = 3)
      .as[(String, Long)].collect().toMap
    // err.test: 451 is NOT a fetch error → 2/4 errors → 1 + ceil(1.5) = 3;
    // denied.test: all-denied host is NOT backed off (the crawler chose not
    // to ask — robots compliance is not server misbehavior); policy.test:
    // a URL-policy denial (452) is not a fetch error either
    assert(gaps == Map("err.test" -> 3L, "ok.test" -> 1L, "denied.test" -> 1L,
      "policy.test" -> 1L))
  }

  test("per-host budget cap partitions the schedule at host_pos") {
    val sched = Scheduler.schedule(skewedFrontier(500), gapSeconds = 3)
    val (kept, deferred) = Scheduler.capPerHost(sched, 50L)
    assert(kept.count() + deferred.count() == 500)
    assert(kept.groupBy("host_rev").count()
      .agg(max("count")).as[Long].collect()(0) <= 50L)
    // only the mega-host (300 urls) overflows a 50-url budget
    assert(deferred.select("host_rev").distinct().as[String].collect().toSeq ==
      Seq("test.mega"))
    assert(deferred.count() == 250)
  }

  test("sitemap discovery channel: locs → frontier rows, positional priority") {
    val sm = Seq(
      ("http://a.test/sitemap.xml",
        "<urlset><url><loc>http://a.test/p/1</loc></url>" +
          "<url><loc> http://a.test/p/2 </loc></url></urlset>"),
      ("http://b.test/sitemap.xml",
        "<sitemapindex><sitemap><loc>http://b.test/sm1.xml</loc></sitemap></sitemapindex>")
    ).toDF("url", "body")
    val rows = graft.frontier.Discover.fromSitemaps(sm)
      .as[(String, Long)].collect().toSeq
    assert(rows.map(_._1).toSet == Set(
      "http://a.test/p/1", "http://a.test/p/2", "http://b.test/sm1.xml"))
    // same-sitemap entries keep document order in the seed priority
    val bySeed = rows.toMap
    assert(bySeed("http://a.test/p/2") == bySeed("http://a.test/p/1") + 1)
  }

  test("sitemap locs: trim, non-loc skip, document order, index nesting") {
    val xml =
      """<?xml version="1.0"?><sitemapindex>
        |<sitemap><loc> http://a.test/sitemap1.xml </loc><lastmod>2026-01-01</lastmod></sitemap>
        |<sitemap><loc>http://a.test/sitemap2.xml</loc></sitemap>
        |</sitemapindex>""".stripMargin
    val got = Seq(Tuple1(xml)).toDF("xml")
      .select(graft.frontier.Sitemap.locs(col("xml")).as("locs"))
      .as[Seq[String]].collect()(0)
    assert(got == Seq("http://a.test/sitemap1.xml", "http://a.test/sitemap2.xml"))
    assert(Seq(Tuple1("<urlset></urlset>")).toDF("xml")
      .select(size(graft.frontier.Sitemap.locs(col("xml")))).as[Int].collect()(0) == 0)
  }
}

class SeenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("filterUnseenWithBank: observe-built bank is exact, zero extra jobs") {
    val cands = (0 until 3000).map(i => (s"http://h${i % 9}.test/$i", i.toLong))
      .toDF("url", "seed_idx")
    val keyed0 = Seen.withUrlKeys(cands)
    // build the bank as observe() aggregates riding a write — the bench's
    // layout: 8 per-bucket blooms over the even-hash half, computed inside
    // the write job's tasks
    val staged = java.nio.file.Files.createTempDirectory("seenobs").toString + "/staged"
    val obs = org.apache.spark.sql.Observation()
    val seenCond = pmod(col("url_hash"), lit(2)) === 0
    keyed0.select("url_hash", "seed_idx", "canonical_url", "host_rev")
      .observe(obs, graft.functions.bloom_bank_agg(
        when(seenCond, col("url_hash")), 8, 4096L, 1e-2).as("bank"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
    val bankRows = obs.get("bank").asInstanceOf[scala.collection.Seq[Array[Byte]]]
      .zipWithIndex.map { case (bytes, b) => (b, bytes) }.toArray
    val keyed = spark.read.parquet(staged)
    val seen = keyed.where(seenCond).select("url_hash", "canonical_url")
    val got = Seen.filterUnseenWithBank(keyed, seen, bankRows, buckets = 8)
      .select("seed_idx").as[Long].collect().toSet
    val want = keyed.where(!seenCond).select("seed_idx").as[Long].collect().toSet
    assert(got == want)
    // the safe direction is OVER-approximation: a bank built from ALL keys
    // (not just the seen half) sends extra rows to the anti-join but stays
    // exact — the under-filled direction is the contract violation
    val obs2 = org.apache.spark.sql.Observation()
    keyed.observe(obs2, graft.functions.bloom_bank_agg(
        col("url_hash"), 8, 8192L, 1e-2).as("bank"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(staged + "_all")
    val fatBank = obs2.get("bank").asInstanceOf[scala.collection.Seq[Array[Byte]]]
      .zipWithIndex.map { case (bytes, b) => (b, bytes) }.toArray
    val fat = Seen.filterUnseenWithBank(keyed, seen, fatBank, buckets = 8)
      .select("seed_idx").as[Long].collect().toSet
    assert(fat == want)
  }

  test("filterUnseen is EXACT (bloom is only a pre-filter)") {
    val cands = (0 until 2000).map(i => (s"http://h${i % 7}.test/$i", i.toLong))
      .toDF("url", "seed_idx")
    val keyed = Seen.withUrlKeys(cands)
    val seen = keyed.where(col("seed_idx") % 3 === 0).select("url_hash", "canonical_url")
    val got = Seen.filterUnseen(keyed, seen, expectedSeen = 1024)
      .select("seed_idx").as[Long].collect().toSet
    val want = (0 until 2000).filter(_ % 3 != 0).map(_.toLong).toSet
    assert(got == want)
  }

  test("bucketed (partitioned-bloom) filterUnseen is exact, incl. re-use") {
    val cands = (0 until 3000).map(i => (s"http://h${i % 11}.test/$i", i.toLong))
      .toDF("url", "seed_idx")
    val keyed = Seen.withUrlKeys(cands)
    // two successive waves with DIFFERENT ledgers: the second must not be
    // served stale sketches from the first (BloomBank cache isolation)
    for (m <- Seq(3, 7)) {
      val seen = keyed.where(col("seed_idx") % m === 0).select("url_hash", "canonical_url")
      // one bloom per pmod(url_hash, 16) bucket, indexed by bucket
      val bank = seen.select(graft.functions.bloom_bank_agg(col("url_hash"), 16, 1024L, 1e-2))
        .head().getSeq[Array[Byte]](0).zipWithIndex.map(_.swap).toArray
      val got = Seen.filterUnseenWithBank(keyed, seen, bank, buckets = 16)
        .select("seed_idx").as[Long].collect().toSet
      val want = (0 until 3000).filter(_ % m != 0).map(_.toLong).toSet
      assert(got == want, s"mod $m")
    }
  }

  test("empty ledger passes everything through") {
    val cands = Seq(("http://a.test/1", 1L)).toDF("url", "seed_idx")
    val keyed = Seen.withUrlKeys(cands)
    val empty = keyed.where(lit(false)).select("url_hash", "canonical_url")
    assert(Seen.filterUnseen(keyed, empty).count() == 1)
  }

  test("in-wave duplicate collapse keeps first seed_idx") {
    val cands = Seq(
      ("http://a.test/x", 5L), ("http://a.test/x", 2L), ("http://b.test/y", 9L))
      .toDF("url", "seed_idx")
    val got = Seen.dropInWaveDuplicates(Seen.withUrlKeys(cands))
      .select("canonical_url", "seed_idx").as[(String, Long)].collect().toSet
    assert(got == Set(("http://a.test/x", 2L), ("http://b.test/y", 9L)))
  }

  test("bloom has no false negatives (probe every inserted key)") {
    val keys = spark.range(5000).select(xxhash64(col("id").cast("string")).as("url_hash"))
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      keys.select(graft.functions.bloom_bank_agg(col("url_hash"), 1, 5000, 1e-3)(0).as("b"))
        .collect()(0).getAs[Array[Byte]](0))
    val misses = keys.as[Long].collect().count(k => !bloom.mightContainLong(k))
    assert(misses == 0)
  }
}

class RobotsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("allow-all is a no-op; deny-prefix filters matching paths") {
    val f = Seen.withUrlKeys(Seq(
      ("http://a.test/private/x", 1L), ("http://a.test/public/x", 2L),
      ("http://b.test/private/x", 3L)).toDF("url", "seed_idx"))
    assert(Robots.filterAllowedFull(f, Robots.FullAllowAll).count() == 3)
    val rules = Robots.FullRules(Map("a.test" -> Robots.HostRules(Nil, Seq("/private"), None)))
    val kept = Robots.filterAllowedFull(f, rules).select("seed_idx").as[Long].collect().toSet
    assert(kept == Set(2L, 3L)) // b.test has no rules → allowed
  }

  test("a '?' before the first '/' is a query, not a path (ADVICE fix)") {
    // http://a.test?x=/private must NOT match the /private disallow prefix
    val f = Seen.withUrlKeys(Seq(
      ("http://a.test?x=/private", 1L), ("http://a.test/private?x=1", 2L))
      .toDF("url", "seed_idx"))
    val rules = Robots.FullRules(Map("a.test" -> Robots.HostRules(Nil, Seq("/private"), None)))
    val kept = Robots.filterAllowedFull(f, rules).select("seed_idx").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("scalable robots gate (wave-subset rules) == full-rules filter") {
    val f = Seen.withUrlKeys(spark.range(200).select(
      concat(lit("http://h"), (col("id") % 10).cast("string"),
        lit(".test/private/"), col("id").cast("string")).as("url"),
      col("id").as("seed_idx")))
    // rules for 1000 hosts; only 10 appear in the wave
    val prefixes = (0 until 1000).map(i => s"h$i.test" -> (if (i % 2 == 0) "/private" else "/other"))
    val rules = Robots.FullRules(prefixes.map { case (h, p) => h -> Robots.HostRules(Nil, Seq(p), None) }.toMap)
    val full = Robots.filterAllowedFull(f, rules).select("seed_idx").as[Long].collect().toSet
    val scalable = Robots.filterAllowedJoin(f, prefixes.toDF("host", "prefix"))
      .select("seed_idx").as[Long].collect().toSet
    assert(scalable == full)
    assert(full == (0L until 200L).filter(i => (i % 10) % 2 == 1).toSet)
  }

  test("robots.txt parser: groups, longest-match precedence, wildcards, delay") {
    val txt =
      """# comment line
        |User-agent: other-bot
        |Disallow: /
        |Crawl-delay: 99
        |
        |User-agent: graft
        |User-agent: friend
        |Allow: /public
        |Disallow: /pub
        |Disallow: /private/*/tmp
        |Disallow: /*.zip$
        |Crawl-delay: 2.4
        |Sitemap: http://x/s.xml
        |""".stripMargin
    val r = Robots.parse(txt, agent = "graft")
    assert(r.crawlDelay.contains(2.4))
    assert(r.allows("/public/x")) // Allow /public (len 7) beats Disallow /pub (len 4)
    assert(!r.allows("/pubx")) // /pub disallow, no allow match
    assert(!r.allows("/private/a/tmp/f")) // '*' wildcard
    assert(r.allows("/private/a/xyz"))
    assert(!r.allows("/data/file.zip")) // '$' end anchor
    assert(r.allows("/data/file.zipx")) // anchor must match the END
    assert(r.allows("/anything/else"))
    // unknown agent: no '*' group in this file → unrestricted
    val star = Robots.parse(txt, agent = "randombot")
    assert(star.allows("/pubx") && star.crawlDelay.isEmpty)
    // the most specific agent group wins over '*' (and '*' rules then do
    // NOT apply — RFC 9309 group selection, not union)
    val g2 = Robots.parse("User-agent: *\nDisallow: /a\n\nUser-agent: graft\nDisallow: /b\n", "graft")
    assert(g2.allows("/a/x") && !g2.allows("/b/x"))
    // gap helper: ceil to whole seconds, default when absent
    assert(Robots.gapSecondsOf(txt, "graft", 10L) == 3L) // ceil(2.4) = 3, not the default
    assert(Robots.gapSecondsOf("User-agent: *\nDisallow:\n", "graft", 7L) == 7L)
  }

  test("Sitemap: directives are group-independent, case-preserved, deduped") {
    val txt =
      """User-agent: other
        |Disallow: /
        |Sitemap: https://A.test/SiteMap1.xml
        |
        |User-agent: *
        |Allow: /docs
        |sitemap: https://a.test/sitemap2.xml  # trailing comment
        |Sitemap: https://A.test/SiteMap1.xml
        |Sitemap:
        |""".stripMargin
    assert(Robots.sitemapUrls(txt) ==
      Seq("https://A.test/SiteMap1.xml", "https://a.test/sitemap2.xml"))
    // and the group parser still ignores them (no rule pollution)
    val r = Robots.parse(txt)
    assert(r.allow == Seq("/docs") && r.disallow.isEmpty)
  }

  test("FullRules gate + per-host gap columns agree with the driver-side model") {
    val full = Robots.parseAll(Map(
      "a.test" -> "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n",
      "b.test" -> "User-agent: *\nCrawl-delay: 5\n"))
    val f = Seen.withUrlKeys(Seq(
      ("http://a.test/private/x", 1L), ("http://a.test/public/x", 2L),
      ("http://b.test/private/x", 3L), ("http://c.test/anything", 4L))
      .toDF("url", "seed_idx"))
    val kept = Robots.filterAllowedFull(f, full).select("seed_idx").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L))
    val gaps = f.select(col("seed_idx"),
      Robots.gapColFull(spark, full, col("host")).as("g"))
      .as[(Long, Long)].collect().toMap
    assert(gaps == Map(1L -> 2L, 2L -> 2L, 3L -> 5L, 4L -> 3L))
  }

  test("robots gate is a codegen'd expression, not a udf") {
    // range-based input: a LocalRelation would let the optimizer fold the
    // whole filter away at plan time and hide the expression
    val f = Seen.withUrlKeys(spark.range(10)
      .select(concat(lit("http://a.test/x/"), col("id").cast("string")).as("url"),
        col("id").as("seed_idx")))
    val filtered = Robots.filterAllowedFull(f,
      Robots.FullRules(Map("a.test" -> Robots.HostRules(Nil, Seq("/p"), None))))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("robots_allowed_full"), plan)
    assert(filtered.count() == 10)
  }
}

class AnchorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.Anchors

  test("fromPages: resolve + scheme-null drop; empty anchors kept") {
    val pages = Seq(
      ("http://s.test/p/1",
        """<a href="/t/a">Alpha <b>Site</b></a><a href="mailto:x@y.z">m</a>""" +
        """<a href="/t/a"><img src="i.png"/></a>"""),
      ("http://s.test/p/2", """<a href="t/b">beta</a>""")).toDF("url", "html")
    val got = Anchors.fromPages(pages).as[(String, String)].collect().toSet
    assert(got == Set(
      ("http://s.test/t/a", "Alpha Site"),
      ("http://s.test/t/a", ""),
      ("http://s.test/p/t/b", "beta")))
  }

  test("topAnchors: frequency order, lexicographic ties, k cut, one exchange") {
    val anchors = (Seq.fill(3)(("L1", "big")) ++ Seq.fill(2)(("L1", "also")) ++
      Seq.fill(2)(("L1", "tied")) ++ Seq(("L1", "rare"), ("L2", "only"), ("L2", ""))
      ).toDF("link", "anchor")
    val top = Anchors.topAnchors(anchors, k = 2)
    val got = top.select("link", "anchor", "n", "rank")
      .as[(String, String, Long, Int)].collect().toSet
    // ties at n=2 break lexicographically: "also" < "tied"
    assert(got == Set(("L1", "big", 3L, 1), ("L1", "also", 2L, 2),
      ("L2", "only", 1L, 1)))
    top.collect()
    // AQE's dump repeats the plan ("Initial Plan" section) — count the
    // final section only
    val finalPlan = top.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val shuffles = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"want ONE exchange (repartition serves groupBy AND window):\n$finalPlan")
    // and Spark's WindowGroupLimit pushdown fires on the rank filter
    assert(finalPlan.contains("WindowGroupLimit"), finalPlan)
  }
}

class TrapsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.url.Traps

  test("urlTemplate folds digits, long hex, and query strings") {
    val got = Seq(
      "http://a.test/article/12345",
      "http://a.test/cal/2026/8/17",
      "http://a.test/s/deadbeefcafe1234/view",
      "http://a.test/p?page=7&sid=0123456789abcdef",
      "http://a.test/hex7/abc123") // 6-char run: NOT a hash
      .toDF("u").select(Traps.urlTemplate(col("u"))).as[String].collect().toSeq
    assert(got == Seq(
      "a.test /article/N",
      "a.test /cal/N/N/N",
      "a.test /s/H/view",
      "a.test /p?page=N&sid=H",
      "a.test /hexN/abcN")) // 6-char 'abc123' is no hash: only digit runs fold
  }

  test("capPerTemplate: trap capped at k by order, normals untouched, exact split") {
    val rows = ((0 until 200).map(i => (s"http://t.test/cal/$i/x", i.toLong)) ++
      (0 until 5).map(i => (s"http://ok.test/about$i/page", 1000L + i)))
      .toDF("canonical_url", "seed_idx")
    val (kept, deferred) = Traps.capPerTemplate(rows, maxPerTemplate = 10L)
    assert(kept.count() + deferred.count() == 205)
    val keptTrap = kept.where(col("template") === "t.test /cal/N/x")
      .select("seed_idx").as[Long].collect().sorted.toSeq
    assert(keptTrap == (0L until 10L)) // FIRST by discovery order
    assert(deferred.select("template").distinct().as[String].collect().toSeq ==
      Seq("t.test /cal/N/x")) // only the trap overflows
    // the 5 'about<i>' urls share ONE template (aboutN/page) but sit
    // under the cap — all kept
    val okKept = kept.where(col("canonical_url").contains("ok.test")).count()
    assert(okKept == 5)
  }

  test("templateStats counts per template") {
    val rows = ((0 until 7).map(i => (s"http://t.test/a/$i", i.toLong)) ++
      Seq(("http://t.test/static", 100L))).toDF("canonical_url", "seed_idx")
    val stats = Traps.templateStats(rows).as[(String, Long)].collect().toMap
    assert(stats == Map("t.test /a/N" -> 7L, "t.test /static" -> 1L))
  }
}

class SitemapRefreshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.Sitemap

  test("entries: loc+lastmod per <url> block; loose index locs excluded") {
    val xml = Seq(
      """<urlset>
        |<url><loc> http://a.test/1 </loc><lastmod> 2024-01-05 </lastmod></url>
        |<url><loc>http://a.test/2</loc></url>
        |</urlset>""".stripMargin,
      // sitemapindex: lastmod stamps the FILE, not a page — entries must
      // not surface it (locs still does)
      "<sitemapindex><sitemap><loc>http://a.test/s.xml</loc>" +
        "<lastmod>2024-01-01</lastmod></sitemap></sitemapindex>").toDF("xml")
    val got = xml.select(explode(Sitemap.entries(col("xml"))).as("e"))
      .select("e.loc", "e.lastmod").as[(String, String)].collect().toSeq
    assert(got == Seq(("http://a.test/1", "2024-01-05"), ("http://a.test/2", "")))
    val allLocs = xml.select(explode(Sitemap.locs(col("xml")))).as[String]
      .collect().toSet
    assert(allLocs.contains("http://a.test/s.xml"))
  }

  test("lastmodTs: W3C forms parse, offsets convert, garbage is null") {
    val got = Seq("2024-01-05", "2024-01-05T10:30:00Z", "2024-01-05 10:30:00",
        "2024-01-05T12:30:00+02:00", "2024-01-05T10:30:00.123Z",
        "not a date", "").toDF("s")
      .select(Sitemap.lastmodTs(col("s")).cast("string")).as[String]
      .collect().toSeq
    assert(got == Seq(
      "2024-01-05 00:00:00",
      "2024-01-05 10:30:00",
      "2024-01-05 10:30:00",
      "2024-01-05 10:30:00", // +02:00 converted to the UTC session tz
      "2024-01-05 10:30:00.123",
      null, null))
  }

  test("staleBySitemap: newest stamp wins; null lastmod never re-fetches") {
    val sitemaps = Seq(
      // /p listed twice across files — the NEWER stamp must decide
      "<urlset><url><loc>http://s.test/p</loc><lastmod>2024-01-01</lastmod></url></urlset>",
      "<urlset><url><loc>http://s.test/p</loc><lastmod>2024-03-01</lastmod></url>" +
        "<url><loc>http://s.test/q</loc><lastmod>2024-01-01</lastmod></url>" +
        "<url><loc>http://s.test/r</loc></url>" +
        "<url><loc>http://s.test/new</loc></url></urlset>").toDF("xml")
    val fetched = Seq(
      ("http://s.test/p", "2024-02-01 00:00:00"), // stale: 03-01 > 02-01
      ("http://s.test/q", "2024-02-01 00:00:00"), // fresh: 01-01 < 02-01
      ("http://s.test/r", "2024-02-01 00:00:00")) // unknown lastmod: fresh
      .toDF("url", "ts")
      .select(col("url"), to_timestamp(col("ts")).as("fetched_at"))
    val got = Sitemap.staleBySitemap(sitemaps, fetched)
      .select("url", "reason").as[(String, String)].collect().toSet
    assert(got == Set(
      ("http://s.test/p", "modified"),
      ("http://s.test/new", "never_fetched")))
  }
}

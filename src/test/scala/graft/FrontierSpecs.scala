package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.frontier.{Discover, Robots, Scheduler, Seen, WaveLoop}

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

/** A wave manifest's fetch totals next to the same aggregate recomputed
  * over the wave's committed metrics table.
  */
object WaveManifest {
  def totals(spark: org.apache.spark.sql.SparkSession, root: String,
      wave: Int): (Map[String, Long], Map[String, Long]) = {
    val keys = Seq("fetched", "missed", "denied", "url_denied", "parse_chars", "parse_chunks")
    val doc = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(WaveLoop.manifestPath(root, wave))))
    val manifest = keys.map(k => k -> (doc \ k).asInstanceOf[org.json4s.JInt].num.toLong).toMap
    val status = col("status")
    val r = spark.read.parquet(s"$root/metrics/wave=$wave").agg(
      count(when(status === 200, 1)), count(when(!status.isin(200, 451, 452), 1)),
      count(when(status === 451, 1)), count(when(status === 452, 1)),
      coalesce(sum("n_chars"), lit(0L)), coalesce(sum("n_chunks"), lit(0L))).collect()(0)
    (manifest, keys.indices.map(i => keys(i) -> r.getLong(i)).toMap)
  }
}

class WaveLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // synthetic link graph: /p/i discovers /p/(2i) and /p/(2i+1) on a rotated
  // host, bounded — deterministic multi-wave frontier
  private def discover(sched: org.apache.spark.sql.DataFrame) = {
    val children = sched.select(col("seed_idx"))
      .where(col("seed_idx") < 200)
      .select(explode(array(col("seed_idx") * 2 + 100, col("seed_idx") * 2 + 101)).as("next_idx"))
      .select(concat(lit("http://h"), (col("next_idx") % 5).cast("string"),
        lit(".test/p/"), col("next_idx").cast("string")).as("url"),
        col("next_idx").cast("long").as("seed_idx"))
    // every wave also re-discovers seed 0's url — the cross-wave seen-set
    // must drop it (a frontier without dedup would loop forever on this)
    val revisit = sched.sparkSession.createDataFrame(
      Seq(("http://h0.test/p/0", 9999L))).toDF("url", "seed_idx")
    children.unionByName(revisit)
  }

  private def seeds = (0 until 20)
    .map(i => (s"http://h${i % 3}.test/p/$i", i.toLong)).toDF("url", "seed_idx")

  test("multi-wave run: dedup across waves, committed manifests, metrics") {
    val root = java.nio.file.Files.createTempDirectory("waves").toString
    val res = WaveLoop.run(spark, root, seeds, discover, maxWaves = 3)
    assert(res.length == 3)
    assert(WaveLoop.committedWaves(root) == Seq(0, 1, 2))
    assert(res(0).scheduled == 20)
    // cross-wave seen-set: no url scheduled twice
    val order = WaveLoop.crawlOrder(spark, root)
    val urls = order.select("canonical_url").as[String].collect()
    assert(urls.length == urls.distinct.length)
    // manifest carries lineage
    val m = java.nio.file.Files.readString(java.nio.file.Paths.get(WaveLoop.manifestPath(root, 0)))
    assert(m.contains("\"lineage\"") && m.contains("\"scheduled\":20"))
  }

  test("REAL link discovery: ExtractLinks + resolve drive a multi-wave crawl") {
    // pages graph: /p/i (host h(i%3)) links to a RELATIVE "i+3" (same host,
    // fetchable), an ABSOLUTE "/p/2i" (same host, fetchable only when
    // i%3==0), and a mailto (dropped by resolve). /p/0's absolute link is
    // itself — the cross-wave seen-set must drop the revisit.
    val pages = (0 until 100).map { i =>
      val html = s"""<html><body><p>doc $i</p><a href="${i + 3}">n</a>""" +
        s"""<a href="/p/${2 * i}">d</a><a href="mailto:x@y.z">m</a></body></html>"""
      (s"http://h${i % 3}.test/p/$i", html)
    }.toDF("url", "html")
    val seeds = Seq(
      ("http://h0.test/p/0", 0L), ("http://h1.test/p/1", 1L), ("http://h2.test/p/2", 2L))
      .toDF("url", "seed_idx")
    val root = java.nio.file.Files.createTempDirectory("wavesreal").toString
    val res = WaveLoop.run(spark, root, seeds,
      graft.frontier.Discover.fromPages(pages), maxWaves = 3, pages = Some(pages))
    assert(res.length == 3)
    assert(res(0).scheduled == 3)
    // wave 1 = children of the seeds: rel 3,4,5 + abs 0 (seen → dropped),
    // 2 (host h1 — unfetched later but scheduled), 4 (host h2)
    val w1 = spark.read.parquet(s"$root/schedule/wave=1")
      .select("canonical_url").as[String].collect().toSet
    assert(w1 == Set(
      "http://h0.test/p/3", "http://h1.test/p/4", "http://h2.test/p/5",
      "http://h1.test/p/2", "http://h2.test/p/4"))
    // no url is ever scheduled twice across waves
    val urls = WaveLoop.crawlOrder(spark, root).select("canonical_url").as[String].collect()
    assert(urls.length == urls.distinct.length)
    // fetch/parse metrics: wave-1 misses are exactly the two off-host urls
    val m1 = spark.read.parquet(s"$root/metrics/wave=1")
    assert(m1.where(col("status") === 404).select("canonical_url").as[String].collect().toSet ==
      Set("http://h1.test/p/2", "http://h2.test/p/4"))
    assert(m1.where(col("status") === 200).count() == 3)
    // fetched rows carry parse metrics, missed rows carry nulls
    assert(m1.where(col("status") === 200 && col("n_chars").isNull).count() == 0)
    assert(m1.where(col("status") === 404 && col("n_chars").isNotNull).count() == 0)
    // manifest totals match
    val mf = java.nio.file.Files.readString(java.nio.file.Paths.get(WaveLoop.manifestPath(root, 1)))
    assert(mf.contains("\"fetched\":3") && mf.contains("\"missed\":2"), mf)
  }

  test("parsed robots through the loop: per-host crawl-delay + 451 metrics") {
    val seeds2 = (0 until 12).map(i => (s"http://h${i % 2}.test/p/$i", i.toLong))
      .toDF("url", "seed_idx")
    val pages2 = (0 until 12).map(i =>
      (s"http://h${i % 2}.test/p/$i", s"<html><body><p>t $i</p></body></html>"))
      .toDF("url", "html")
    val fullRules = Robots.parseAll(Map(
      "h0.test" -> "User-agent: *\nDisallow: /p/4\nCrawl-delay: 2\n",
      "h1.test" -> "User-agent: *\nCrawl-delay: 5\n"))
    val noDiscovery = (sched: org.apache.spark.sql.DataFrame) =>
      sched.select(col("canonical_url").as("url"), col("seed_idx")).limit(0)
    val root = java.nio.file.Files.createTempDirectory("wavesrobots").toString
    WaveLoop.run(spark, root, seeds2, noDiscovery, maxWaves = 1,
      pages = Some(pages2), fullRules = Some(fullRules))
    val sched = spark.read.parquet(s"$root/schedule/wave=0")
      .select("canonical_url", "slot", "host_pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the denied url never schedules
    assert(!sched.exists(_._1.endsWith("/p/4")))
    // per-host slot spacing = that host's Crawl-delay
    for ((u, slot, pos) <- sched) {
      val gap = if (u.contains("h0.test")) 2L else 5L
      assert(slot == (pos - 1) * gap, s"$u slot $slot pos $pos")
    }
    // the denied row flows into metrics with status 451 and null parse cols
    val m = spark.read.parquet(s"$root/metrics/wave=0")
    val deniedRows = m.where(col("status") === 451).collect()
    assert(deniedRows.length == 1 && deniedRows(0).getAs[String]("canonical_url").endsWith("/p/4"))
    assert(deniedRows(0).isNullAt(deniedRows(0).fieldIndex("n_chars")))
    assert(m.where(col("status") === 200).count() == 11)
    val mf = java.nio.file.Files.readString(java.nio.file.Paths.get(WaveLoop.manifestPath(root, 0)))
    assert(mf.contains("\"denied\":1"), mf)
    val (manifest, recomputed) = WaveManifest.totals(spark, root, 0)
    assert(manifest == recomputed)
    // parseStats=false (the 100 TB setting): statuses survive, parse columns
    // are null for EVERY row — the metrics pass pays no second extract
    val root2 = java.nio.file.Files.createTempDirectory("wavesrobots2").toString
    WaveLoop.run(spark, root2, seeds2, noDiscovery, maxWaves = 1,
      pages = Some(pages2), fullRules = Some(fullRules), metricsParseStats = false)
    val m2 = spark.read.parquet(s"$root2/metrics/wave=0")
    assert(m2.where(col("status") === 200).count() == 11)
    assert(m2.where(col("status") === 451).count() == 1)
    assert(m2.where(col("n_chars").isNotNull || col("n_chunks").isNotNull).count() == 0)
    val (manifest2, recomputed2) = WaveManifest.totals(spark, root2, 0)
    assert(manifest2 == recomputed2)
  }

  test("adaptive backoff: wave-0 error rates set wave-1 per-host gaps") {
    // e.test misses 2 of 4 fetches (err 0.5 → gap 1+ceil(1.5)=3);
    // f.test hits all 4 (gap stays at base 1)
    val seeds = ((0 until 4).map(i => (s"http://e.test/p/$i", i.toLong)) ++
      (0 until 4).map(i => (s"http://f.test/p/$i", 10L + i))).toDF("url", "seed_idx")
    val pages = ((0 until 2).map(i => (s"http://e.test/p/$i", "<p>x</p>")) ++
      (0 until 4).map(i => (s"http://f.test/p/$i", "<p>x</p>")) ++
      Seq(("http://e.test/q/0", "<p>x</p>"))).toDF("url", "html")
    def disc(sched: org.apache.spark.sql.DataFrame) =
      sched.where(col("canonical_url").contains("/p/"))
        .select(regexp_replace(col("canonical_url"), "/p/", "/q/").as("url"),
          (col("seed_idx") + 100L).as("seed_idx"))
    val root = java.nio.file.Files.createTempDirectory("wavesbackoff").toString
    WaveLoop.run(spark, root, seeds, disc, maxWaves = 2, pages = Some(pages),
      adaptiveBackoff = Some((1L, 3)))
    // wave 0 has no prior metrics → everyone at base gap 1
    val w0 = spark.read.parquet(s"$root/schedule/wave=0")
      .select("host_rev", "slot", "host_pos").as[(String, Long, Long)].collect()
    assert(w0.forall { case (_, slot, pos) => slot == pos - 1 })
    // wave 1: e.test backed off to gap 3, f.test still at 1
    val w1 = spark.read.parquet(s"$root/schedule/wave=1")
      .select("host_rev", "slot", "host_pos").as[(String, Long, Long)].collect()
    assert(w1.nonEmpty)
    assert(w1.filter(_._1 == "test.e").forall { case (_, slot, pos) => slot == (pos - 1) * 3 })
    assert(w1.filter(_._1 == "test.f").forall { case (_, slot, pos) => slot == pos - 1 })
  }

  test("refresh: every page re-crawls exactly once per TTL window, stamps survive compaction") {
    val root = java.nio.file.Files.createTempDirectory("wavesR").toString
    // compactEvery=3 on purpose: a compaction runs mid-crawl, and the
    // re-fetch stamps must survive it (max-wave compaction) or pages would
    // read as stale again immediately
    val l = new graft.frontier.Ledger(spark, root + "/seenstate", buckets = 4,
      expectedPerBucket = 4096, compactEvery = 3)
    // discovery dies after wave 2 (the idx<200 bound): waves 3-5 run on
    // refresh work alone — the loop must keep advancing on it
    val res = WaveLoop.run(spark, root, seeds, discover, maxWaves = 6,
      ledger = Some(l), refreshAfter = Some(2))
    assert(res.length == 6, s"expected 6 waves, got ${res.map(_.wave)}")
    val order = WaveLoop.crawlOrder(spark, root)
      .select("canonical_url", "wave").as[(String, Int)].collect().toSeq
    val byUrl = order.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // TTL=2 ⇒ a url fetched at wave w is stale when building wave w+3
    // (age = (W−1)−w ≥ 2) — exactly one re-crawl each within 6 waves
    for ((url, waves) <- byUrl) {
      assert(waves.length == 2, s"$url crawled at waves $waves, want exactly 2")
      assert(waves(1) == waves(0) + 3, s"$url re-crawled at ${waves(1)}, want ${waves(0) + 3}")
    }
    // refresh order keys live ABOVE the discovery seed domain: within a
    // host, fresh content schedules before re-fetches
    val w3 = spark.read.parquet(s"$root/schedule/wave=3")
    assert(w3.where(col("seed_idx") < (1L << 40)).count() == 0,
      "wave 3 is refresh-only; its keys must be priority-packed")
  }

  test("error retry: 404s re-fetch once via unsee, then stay retired") {
    val seeds = (0 until 6).map(i => (s"http://r.test/p/$i", i.toLong))
      .toDF("url", "seed_idx")
    // p/4 and p/5 are missing → 404 at every attempt
    val pages = (0 until 4).map(i => (s"http://r.test/p/$i", "<p>x</p>"))
      .toDF("url", "html")
    // discovery keeps re-emitting p/4 from any scheduled row: the organic
    // channel collides with the retry injection (in-wave dedup must fold
    // them) and keeps probing the seen filter after the retry is spent
    def disc(sched: org.apache.spark.sql.DataFrame) =
      sched.limit(1).select(lit("http://r.test/p/4").as("url"),
        lit(100L).as("seed_idx"))
    val root = java.nio.file.Files.createTempDirectory("wavesRetry").toString
    val l = new graft.frontier.Ledger(spark, root + "/seenstate", buckets = 4,
      expectedPerBucket = 4096)
    WaveLoop.run(spark, root, seeds, disc, maxWaves = 4, pages = Some(pages),
      ledger = Some(l), metricsParseStats = false, retryErrorsAfter = Some(1))
    val order = WaveLoop.crawlOrder(spark, root)
      .select("canonical_url", "wave").as[(String, Int)].collect().toSeq
    val byUrl = order.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // the two 404 urls retried exactly once (wave 1), never a third time —
    // wave 2's organic p/4 rediscovery is blocked by its wave-1 re-append
    assert(byUrl("http://r.test/p/4") == Seq(0, 1), byUrl.toString)
    assert(byUrl("http://r.test/p/5") == Seq(0, 1), byUrl.toString)
    for (i <- 0 until 4)
      assert(byUrl(s"http://r.test/p/$i") == Seq(0), s"p/$i over-crawled")
    // the retried set holds exactly the two error urls
    assert(spark.read.parquet(s"$root/retried").distinct().count() == 2)
    // and the wave-1 metrics show the retry attempts as 404s again
    val m1 = spark.read.parquet(s"$root/metrics/wave=1")
    assert(m1.where(col("status") === 404).count() == 2)
  }

  test("one seen-set path: steady waves run a pinned job count, no seen/ deltas") {
    // every wave is one run call (maxWaves = w + 1 resumes from the last
    // manifest), so the jobs a call starts are the jobs of one wave. A
    // re-added per-wave write or recompute raises the count and fails here.
    // Waves 1 and 2 are the steady state (wave 0 has no ledger to probe;
    // wave 3 of this graph schedules nothing).
    val pinned = Seq(14, 17, 17)
    val root = java.nio.file.Files.createTempDirectory("wavejobs").toString
    val perWave = pinned.indices.map { w =>
      val (jobs, held) = SparkTestSession.persistedDuring(SparkTestSession.jobsDuring(
        WaveLoop.run(spark, root, seeds, discover, maxWaves = w + 1))._2)
      // every local checkpoint of the wave is released at its commit
      assert(held.isEmpty, s"wave $w holds ${held.values}")
      jobs
    }
    assert(perWave.map(_.size) == pinned, s"jobs per wave: ${perWave.map(_.size)}")
    // loop state is read back with its declared schema: the only schema
    // inference is a resumed call's read of the caller-shaped next/ frontier
    assert(perWave.map(_.count(_.schemaInference)) == Seq(0, 1, 1),
      perWave.map(_.filter(_.schemaInference).flatMap(_.stageNames)).toString)
    // the seen set is the default ledger, appended from the committed
    // schedule; no per-wave seen delta is written
    assert(graft.core.Fs.exists(s"$root/seenstate/_ledger_params"))
    assert(!graft.core.Fs.exists(s"$root/seen"), "seen/ deltas are written again")
  }

  // A PageTable-backed site for the page-side tests: a nofollow page, a
  // missing page (404), a junk-only page (422), pages over both link caps
  // below (8 for discovery, 5 for edges), relative, mailto, fragment and
  // protocol-relative hrefs, a non-ASCII host, and a robots-denied host.
  private def pageSite(): (org.apache.spark.sql.DataFrame, Robots.FullRules,
      org.apache.spark.sql.DataFrame) = {
    def a(href: String) = s"""<a href="$href">l</a>"""
    def page(url: String, head: String, body: String) = graft.Schemas.Page(url,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      s"<html><head>$head</head><body>$body</body></html>".getBytes("UTF-8"), null, "en")
    def doc(url: String, hrefs: String*) = page(url, "", s"<p>text of $url</p>" + hrefs.map(a).mkString)
    val site = Seq(
      doc("http://a.test/0", "many", "1", "mailto:x@y.z", "#top", "http://bücher.test/b",
        "http://deny.test/p/1", "/2", "/0#frag", "http://d.test/junk"),
      page("http://a.test/1", """<meta name="robots" content="nofollow">""",
        "<p>hidden</p>" + a("/hidden")),
      doc("http://a.test/many", (0 until 12).map(i => s"/m/$i"): _*),
      doc("http://xn--bcher-kva.test/b", "c", "//a.test/1"),
      doc("http://bücher.test/b", "unicode-form"),
      page("http://d.test/junk", "", "<script>var x = 1;</script>"),
      doc("http://deny.test/p/1", "/p/2")) ++
      (0 until 12 by 2).map(i => doc(s"http://a.test/m/$i", s"/m/${i + 1}", s"../m/${i + 20}"))
    val ptRoot = java.nio.file.Files.createTempDirectory("pagesite").toString
    graft.sources.PageTable.commit(spark, ptRoot, spark.createDataset(site).toDF())
    val rules = Robots.parseAll(Map("deny.test" -> "User-agent: *\nDisallow: /p\n"))
    val seeds = Seq(("http://a.test/0", 0L), ("http://d.test/junk", 1L),
      ("http://deny.test/p/0", 2L), ("http://a.test/missing", 3L)).toDF("url", "seed_idx")
    (graft.sources.PageTable.read(spark, ptRoot), rules, seeds)
  }

  private def pageCrawl(root: String, pages: org.apache.spark.sql.DataFrame,
      rules: Robots.FullRules, seeds: org.apache.spark.sql.DataFrame, waves: Int) =
    WaveLoop.run(spark, root, seeds, Discover.fromPages(pages, maxLinksPerPage = 8),
      maxWaves = waves, pages = Some(pages), fullRules = Some(rules),
      edgesOf = Some(Discover.edgesFromPages(pages, maxLinksPerPage = 5)))

  test("fused wave: next/, edges/ and metrics/ equal the standalone operators") {
    val (pages, rules, seeds) = pageSite()
    val root = java.nio.file.Files.createTempDirectory("wavefused").toString
    pageCrawl(root, pages, rules, seeds, waves = 3)
    assert(WaveLoop.committedWaves(root) == Seq(0, 1, 2))
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    def hashed(e: org.apache.spark.sql.DataFrame) =
      e.select(xxhash64(graft.functions.canonicalize_url(col("src"))).as("src"),
        xxhash64(graft.functions.canonicalize_url(col("dst"))).as("dst"))
    val statuses = (0 to 2).flatMap { w =>
      val sched = WaveLoop.readSchedule(spark, root, w)
      val next = spark.read.parquet(s"$root/next/wave=$w")
      assert(bag(next) == bag(Discover.fromPages(pages, maxLinksPerPage = 8)(sched)), s"next/ wave $w")
      assert(bag(spark.read.parquet(s"$root/edges/wave=$w")) ==
        bag(hashed(Discover.edgesFromPages(pages, maxLinksPerPage = 5)(sched))), s"edges/ wave $w")
      // denied rows: the wave's input frontier, keyed, failing robots, deduped
      val input = if (w == 0) seeds else spark.read.parquet(s"$root/next/wave=${w - 1}")
      val keyed = Seen.withUrlKeys(input)
      val denied = Seen.dropInWaveDuplicates(keyed.where(!Robots.allowedColFull(spark, rules,
          col("host"), graft.functions.url_path(col("canonical_url")))))
        .select(col("url"), col("canonical_url"), col("url_hash"), col("seed_idx"),
          lit(451).as("status"), lit(null).cast("long").as("n_chars"),
          lit(null).cast("long").as("n_chunks"))
      val metrics = spark.read.parquet(s"$root/metrics/wave=$w")
      assert(bag(metrics) == bag(Discover.fetchParse(
        sched.select("url", "canonical_url", "url_hash", "seed_idx"), pages,
        urlCol = "canonical_url").unionByName(denied)), s"metrics/ wave $w")
      metrics.select("status").distinct().collect().map(_.getInt(0)).toSeq
    }
    // the fixture reaches every status, and the caps bind on real pages
    assert(statuses.toSet == Set(200, 404, 422, 451), statuses)
    val edges1 = Discover.edgesFromPages(pages, maxLinksPerPage = 5)(WaveLoop.readSchedule(spark, root, 1))
    assert(edges1.where(col("src") === "http://a.test/many").count() == 5)
    assert(spark.read.parquet(s"$root/next/wave=1").count() > 0)
  }

  test("one pages join per wave: pinned jobs, one bucket-pruning collect, no storage held") {
    // every wave is one run call, as in the seen-set pin above. The pages
    // table is joined once per wave for discovery, edges and metrics
    // together, so one PageTable.pruneTo bucket collect runs per wave.
    val pinned = Seq(21, 24, 24)
    val (pages, rules, seeds) = pageSite()
    val root = java.nio.file.Files.createTempDirectory("wavepagejobs").toString
    // the session is shared across suites: start from an empty cache
    spark.catalog.clearCache()
    val cache = spark.sharedState.cacheManager
    val perWave = (0 until 3).map { w =>
      val (jobs, held) = SparkTestSession.persistedDuring(
        SparkTestSession.jobsDuring(pageCrawl(root, pages, rules, seeds, waves = w + 1))._2)
      // the wave's fetched frame and its local checkpoints are released at
      // its commit: no cached relation and no persisted RDD survive
      assert(cache.isEmpty && held.isEmpty, s"wave $w holds ${held.values}")
      jobs
    }
    def pruneCollects(jobs: Seq[SparkTestSession.Job]) = jobs
      .filter(_.sqlCallSite.exists(_.startsWith("collect at PageTable.scala"))).flatMap(_.execution).distinct
    assert(perWave.map(pruneCollects(_).size) == Seq(1, 1, 1),
      perWave.map(_.flatMap(_.sqlCallSite).distinct).toString)
    assert(perWave.map(_.size) == pinned, s"jobs per wave: ${perWave.map(_.size)}")
  }

  test("all channels on: no wave leaves a persisted RDD behind") {
    // refresh, error retry, the domain cap and the authority channel each
    // checkpoint something in a wave; wave 1's refresh probe finds nothing
    // due (TTL 2), wave 3's finds wave 0's pages
    val pages = (0 until 60).map { i =>
      (s"http://h${i % 3}.test/p/$i",
        s"""<html><body><p>doc $i</p><a href="${i + 3}">n</a><a href="/p/${2 * i}">d</a></body></html>""")
    }.toDF("url", "html")
    val seeds = Seq(("http://h0.test/p/0", 0L), ("http://h1.test/p/1", 1L),
      ("http://h2.test/p/2", 2L), ("http://h0.test/missing", 3L)).toDF("url", "seed_idx")
    val root = java.nio.file.Files.createTempDirectory("wavestorage").toString
    for (w <- 0 until 4) {
      val held = SparkTestSession.persistedDuring(WaveLoop.run(spark, root, seeds,
        Discover.fromPages(pages), maxWaves = w + 1, pages = Some(pages),
        refreshAfter = Some(2), retryErrorsAfter = Some(1), maxPerDomain = Some(1L),
        edgesOf = Some(Discover.edgesFromPages(pages)), rankEvery = 1))._2
      assert(held.isEmpty, s"wave $w holds ${held.values}")
    }
    assert(WaveLoop.committedWaves(root) == (0 until 4))
    // every channel ran: retries, rank scores, refresh rows
    // (priority-packed keys) in wave 3 only, and deferrals (a deferred row
    // rides from a wave's input into its next/ unchanged)
    assert(spark.read.parquet(s"$root/retried").count() > 0)
    assert(graft.core.Fs.exists(s"$root/rank/scores/_SUCCESS"))
    def refreshed(w: Int) =
      WaveLoop.readSchedule(spark, root, w).where(col("seed_idx") >= (1L << 40)).count()
    assert((1 to 3).map(refreshed).map(_ > 0) == Seq(false, false, true))
    def input(w: Int) = if (w == 0) seeds else spark.read.parquet(s"$root/next/wave=${w - 1}")
    assert((0 to 3).map(w => spark.read.parquet(s"$root/next/wave=$w").select("url", "seed_idx")
      .intersect(input(w).select("url", "seed_idx")).count()).sum > 0, "nothing deferred")
  }

  test("a caller's checkpointed seeds stay readable after the crawl") {
    val frozen = seeds.localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("wavecallerseeds").toString
    WaveLoop.run(spark, root, frozen, discover, maxWaves = 2, maxPerDomain = Some(5L))
    assert(WaveLoop.committedWaves(root) == Seq(0, 1))
    assert(frozen.collect().toSet == seeds.collect().toSet)
  }

  test("learned channels read their state back without schema inference, every wave") {
    // dust rules, rank scores, the edges and schedules they learn from grow
    // with the crawl; reading them with their declared schemas keeps each
    // wave's inference at the resume read of next/ alone, whatever its age
    val pages = (0 until 100).map { i =>
      (s"http://h${i % 3}.test/p/$i",
        s"""<html><body><p>doc $i</p><a href="${i + 3}">n</a><a href="/p/${2 * i}">d</a></body></html>""")
    }.toDF("url", "html")
    val seeds = Seq(("http://h0.test/p/0", 0L), ("http://h1.test/p/1", 1L),
      ("http://h2.test/p/2", 2L)).toDF("url", "seed_idx")
    val root = java.nio.file.Files.createTempDirectory("waveinfer").toString
    val inference = (0 until 5).map { w =>
      SparkTestSession.jobsDuring(WaveLoop.run(spark, root, seeds,
        graft.frontier.Discover.fromPages(pages), maxWaves = w + 1, pages = Some(pages),
        edgesOf = Some(graft.frontier.Discover.edgesFromPages(pages)), rankEvery = 1,
        dustEvery = 1))._2.filter(_.schemaInference)
    }
    assert(WaveLoop.committedWaves(root) == (0 until 5))
    assert(inference.map(_.size) == Seq(0, 1, 1, 1, 1),
      inference.map(_.flatMap(_.stageNames)).toString)
  }

  test("dust rules relearned in a wave with a robots gate: its denied rows still land") {
    // the metrics write reads the wave's dust-stripped frontier for its
    // denied rows; relearning the rules before that write deleted the
    // files it read
    val pages = Seq(("http://a.test/x?page=1&sid=1", "<p>x</p>"), ("http://a.test/x?page=1", "<p>x</p>"))
      .toDF("url", "html")
    val seeds = Seq(("http://a.test/x?page=1&sid=1", 0L), ("http://a.test/x?page=1", 1L),
      ("http://a.test/private/1", 2L)).toDF("url", "seed_idx")
    val rules = Robots.parseAll(Map("a.test" -> "User-agent: *\nDisallow: /private\n"))
    def disc(sched: org.apache.spark.sql.DataFrame) = sched.limit(1)
      .select(lit("http://a.test/private/2?sid=3").as("url"), lit(100L).as("seed_idx"))
    val root = java.nio.file.Files.createTempDirectory("wavedustrobots").toString
    WaveLoop.run(spark, root, seeds, disc, maxWaves = 3, pages = Some(pages),
      fullRules = Some(rules), dustEvery = 1, dustMinSupport = 1L)
    // wave 1 schedules nothing (its one url is denied), so wave 2 finds an
    // empty frontier and the crawl stops
    assert(WaveLoop.committedWaves(root) == Seq(0, 1))
    for (w <- 0 to 1) {
      val (manifest, recomputed) = WaveManifest.totals(spark, root, w)
      assert(manifest("denied") == 1L && manifest == recomputed, s"wave $w: $manifest")
    }
  }

  test("resume: crash between data write and manifest → identical final state") {
    val rootA = java.nio.file.Files.createTempDirectory("wavesA").toString
    val rootB = java.nio.file.Files.createTempDirectory("wavesB").toString
    WaveLoop.run(spark, rootA, seeds, discover, maxWaves = 3)
    // simulate crash: run 2 waves, then delete wave-1 manifest (data remains)
    WaveLoop.run(spark, rootB, seeds, discover, maxWaves = 2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(WaveLoop.manifestPath(rootB, 1)))
    // resume re-executes wave 1 (overwrite) and continues to wave 2
    WaveLoop.run(spark, rootB, seeds, discover, maxWaves = 3)
    assert(WaveLoop.committedWaves(rootB) == Seq(0, 1, 2))
    val a = WaveLoop.crawlOrder(spark, rootA)
      .select("wave", "slot", "host_rev", "canonical_url").collect().toSeq
    val b = WaveLoop.crawlOrder(spark, rootB)
      .select("wave", "slot", "host_rev", "canonical_url").collect().toSeq
    assert(a == b)
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

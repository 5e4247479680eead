package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.frontier.{Discover, Robots, Seen, WaveLoop}

// The crawl loop (graft.frontier.WaveLoop) and its channel loops:
// authority, URL gate, DUST, host cardinalities, domain budget and focus.

/** A wave manifest's fetch totals and `next` row count next to the same
  * figures recomputed over the wave's committed metrics and next/ tables.
  */
object WaveManifest {
  def totals(spark: org.apache.spark.sql.SparkSession, root: String,
      wave: Int): (Map[String, Long], Map[String, Long]) = {
    val keys = Seq("fetched", "missed", "denied", "url_denied", "parse_chars", "parse_chunks", "next")
    val doc = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(WaveLoop.manifestPath(root, wave))))
    val manifest = keys.map(k => k -> (doc \ k).asInstanceOf[org.json4s.JInt].num.toLong).toMap
    val status = col("status")
    val r = spark.read.parquet(s"$root/metrics/wave=$wave").agg(
      count(when(status === 200, 1)), count(when(!status.isin(200, 451, 452), 1)),
      count(when(status === 451, 1)), count(when(status === 452, 1)),
      coalesce(sum("n_chars"), lit(0L)), coalesce(sum("n_chunks"), lit(0L))).collect()(0)
    val next = spark.read.parquet(s"$root/next/wave=$wave").count()
    (manifest, (keys.indices.init.map(i => keys(i) -> r.getLong(i)) :+ ("next" -> next)).toMap)
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
    val pinned = Seq(14, 15, 15)
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
      val denied = Seen.dropInWaveDuplicates(keyed.where(
          !Robots.allowedColFull(spark, rules, col("canonical_url"))))
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

  test("one pages join per wave: pinned jobs, no pruning collect, no storage held") {
    // every wave is one run call, as in the seen-set pin above. The pages
    // table is joined once per wave for discovery, edges and metrics
    // together, pruned to the bucket set observed on the schedule write,
    // so no PageTable.pruneTo bucket collect runs.
    val pinned = Seq(19, 20, 20)
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
    assert(perWave.map(pruneCollects(_).size) == Seq(0, 0, 0),
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

  test("resume from a manifest without its next count: the frontier is counted, same crawl") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val (whole, counted, stripped) = (tmp("wavesNext"), tmp("wavesNextC"), tmp("wavesNextS"))
    WaveLoop.run(spark, whole, seeds, discover, maxWaves = 3)
    def resumeWave2(root: String, strip: Boolean) = {
      WaveLoop.run(spark, root, seeds, discover, maxWaves = 2)
      if (strip) {
        // a manifest written before the field existed (through the loop's
        // own store, which keeps the local checksum file in step)
        val mf = WaveLoop.manifestPath(root, 1)
        val doc = graft.core.Fs.readString(mf)
        graft.core.Fs.writeString(mf, doc.replaceFirst(""","next":\d+""", ""))
        assert(!graft.core.Fs.readString(mf).contains("\"next\""), doc)
      }
      SparkTestSession.jobsDuring(WaveLoop.run(spark, root, seeds, discover, maxWaves = 3))._2.size
    }
    // without the field, the resumed wave counts its frontier itself
    assert(resumeWave2(stripped, strip = true) > resumeWave2(counted, strip = false))
    def order(root: String) = WaveLoop.crawlOrder(spark, root)
      .select("wave", "slot", "host_rev", "canonical_url").collect().toSeq
    assert(order(stripped) == order(whole) && order(counted) == order(whole))
    // the resumed wave writes the field again
    val next2 = spark.read.parquet(s"$stripped/next/wave=2").count()
    assert(graft.core.Fs.readString(WaveLoop.manifestPath(stripped, 2)).contains(s""""next":$next2,"""))
  }

  test("refresh rows under gate changes: due urls of gated hosts are audited once, never scheduled") {
    // three ungated waves, then the wave where wave 0's pages fall due
    // (TTL 2) resumes with h1.test blocklisted and h2.test robots-denied
    val pages = seeds.select(col("url"), lit("<p>x</p>").as("html"))
    val root = java.nio.file.Files.createTempDirectory("wavesRgate").toString
    WaveLoop.run(spark, root, seeds, discover, maxWaves = 3, pages = Some(pages),
      refreshAfter = Some(2))
    WaveLoop.run(spark, root, seeds, discover, maxWaves = 4, pages = Some(pages),
      refreshAfter = Some(2), urlGate = Some((Seq("h1.test").toDF("host"), Seq.empty)),
      fullRules = Some(Robots.parseAll(Map("h2.test" -> "User-agent: *\nDisallow: /p\n"))))
    assert(WaveLoop.committedWaves(root) == (0 until 4))
    val due = WaveLoop.readSchedule(spark, root, 0).select("canonical_url").as[String].collect()
    val metrics = spark.read.parquet(s"$root/metrics/wave=3")
      .select("canonical_url", "status").as[(String, Int)].collect().toSeq
    val scheduled = WaveLoop.readSchedule(spark, root, 3).select("canonical_url").as[String]
      .collect().toSet
    for ((host, status) <- Seq("h1.test" -> 452, "h2.test" -> 451);
         u <- due.filter(_.contains(s"//$host/"))) {
      assert(metrics.filter(_._1 == u) == Seq(u -> status), s"$u in wave-3 metrics")
      assert(!scheduled(u), s"$u scheduled")
    }
    // the ungated host's due pages still re-crawl
    assert(due.filter(_.contains("//h0.test/")).forall(scheduled))
    val (manifest, recomputed) = WaveManifest.totals(spark, root, 3)
    assert(manifest == recomputed && manifest("url_denied") > 0 && manifest("denied") > 0, manifest)
  }
}

class AuthorityLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.frontier.WaveLoop

  test("PageRank authority reorders later waves: high-score url fetches first in-host") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("wavesauth").toString
    val seeds = Seq(("http://h.test/s0", 0L), ("http://h.test/s1", 1L))
      .toDF("url", "seed_idx")
    // discovery order favors A (lower seed_idx); the link graph favors B:
    // s0 → {B, A}, s1 → {B} ⇒ score(B) ≈ 1.42 > score(A) ≈ 0.58
    val discover: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      wave =>
        if (wave.where(col("canonical_url").contains("/s0")).count() > 0)
          Seq(("http://h.test/a", 100L), ("http://h.test/b", 200L)).toDF("url", "seed_idx")
        else wave.sparkSession.emptyDataFrame
          .withColumn("url", lit("")).withColumn("seed_idx", lit(0L))
          .select("url", "seed_idx")
    val edgesOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      wave =>
        if (wave.where(col("canonical_url").contains("/s0")).count() > 0)
          Seq(("http://h.test/s0", "http://h.test/b"),
            ("http://h.test/s0", "http://h.test/a"),
            ("http://h.test/s1", "http://h.test/b")).toDF("src", "dst")
        else Seq.empty[(String, String)].toDF("src", "dst")
    val res = WaveLoop.run(spark, root, seeds, discover, maxWaves = 2,
      edgesOf = Some(edgesOf), rankEvery = 1)
    assert(res.length == 2 && res(1).scheduled == 2)
    val w1 = spark.read.parquet(s"$root/schedule/wave=1")
      .select("canonical_url", "host_pos").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1("http://h.test/b") == 1L, s"authority did not reorder: $w1")
    assert(w1("http://h.test/a") == 2L, s"authority did not reorder: $w1")
    // scores live in storage with a commit marker
    assert(graft.core.Fs.exists(s"$root/rank/scores/_SUCCESS"))
    // wave-0 ran BEFORE any scores existed: discovery order there
    val w0 = spark.read.parquet(s"$root/schedule/wave=0")
      .select("canonical_url", "host_pos").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w0("http://h.test/s0") == 1L)
  }
}

class WaveUrlGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.{Discover, WaveLoop}

  test("wave loop URL gate: blocked host never scheduled, audited as 452, crawl continues") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // seed links to one good and one blocked host plus a casino path
    def page(url: String, hrefs: Seq[String]) = graft.Schemas.Page(url, ts,
      (s"<html><body><p>w</p>" +
        hrefs.map(h => s"""<a href="$h">l</a>""").mkString + "</body></html>")
        .getBytes("UTF-8"),
      "w", "en")
    val pages = Seq(
      page("http://good.test/p/0", Seq("http://good.test/p/1",
        "http://spam.bad.test/p/x", "http://good.test/casino/p")),
      page("http://good.test/p/1", Seq.empty),
      page("http://spam.bad.test/p/x", Seq.empty),
      page("http://good.test/casino/p", Seq.empty))
    val ptRoot = java.nio.file.Files.createTempDirectory("waveug").toString
    graft.sources.PageTable.commit(spark, ptRoot, spark.createDataset(pages).toDF())
    val stored = graft.sources.PageTable.read(spark, ptRoot)
    val root = java.nio.file.Files.createTempDirectory("waveugrun").toString
    val blocked = Seq("bad.test").toDF("host")
    WaveLoop.run(spark, root, Seq(("http://good.test/p/0", 0L)).toDF("url", "seed_idx"),
      Discover.fromPages(stored), maxWaves = 2, pages = Some(stored),
      urlGate = Some((blocked, Seq("casino"))))
    val scheduled = (0 to 1).flatMap(w =>
      spark.read.parquet(s"$root/schedule/wave=$w").select("canonical_url")
        .as[String].collect())
    assert(scheduled.toSet == Set("http://good.test/p/0", "http://good.test/p/1"))
    // both denials audited in wave-1 metrics with the 452 policy status
    val m1 = spark.read.parquet(s"$root/metrics/wave=1")
      .select("canonical_url", "status").as[(String, Int)].collect().toMap
    assert(m1("http://spam.bad.test/p/x") == 452)
    assert(m1("http://good.test/casino/p") == 452)
    assert(m1("http://good.test/p/1") == 200)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(WaveLoop.manifestPath(root, 1)))
    assert(manifest.contains("\"url_denied\":2"), manifest)
    assert(manifest.contains("\"missed\":0"), manifest) // denials are not misses
    for (w <- 0 to 1) {
      val (totals, recomputed) = WaveManifest.totals(spark, root, w)
      assert(totals == recomputed, s"wave $w")
    }
  }
}

class DustLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import graft.frontier.WaveLoop

  test("dust channel: learned rules collapse aliases in later waves") {
    val root = java.nio.file.Files.createTempDirectory("dustloop").toString
    // the crawl observes BOTH aliases of /x?page=1 with identical bodies in
    // wave 0 — that is the digest evidence the sid rule is learned from
    val pages = Seq(
      ("http://a.test/x?page=1&sid=1", "<html>body-x1</html>"),
      ("http://a.test/x?page=1", "<html>body-x1</html>")).toDF("url", "html")
    val seeds = Seq(
      ("http://a.test/x?page=1&sid=1", 0L),
      ("http://a.test/x?page=1", 1L)).toDF("url", "seed_idx")
    var calls = 0
    val discover: DataFrame => DataFrame = { _ =>
      calls += 1
      if (calls == 1)
        // a FRESH sid alias of the seen page (must die in the seen filter
        // after the strip) and a sid-carrying new page (must schedule
        // under its stripped form)
        Seq(("http://a.test/x?page=1&sid=99", 0L),
          ("http://a.test/y?page=2&sid=7", 1L)).toDF("url", "seed_idx")
      else Seq.empty[(String, Long)].toDF("url", "seed_idx")
    }
    val res = WaveLoop.run(spark, root, seeds, discover, maxWaves = 3,
      pages = Some(pages), metricsParseStats = false,
      dustEvery = 1, dustMinSupport = 1L)
    // wave 0: both seed aliases scheduled (no rules yet)
    assert(res.head.scheduled == 2)
    // rules learned after wave 0: (a.test, sid)
    val rules = spark.read.parquet(s"$root/dust/rules")
      .select("host", "param").as[(String, String)].collect().toSet
    assert(rules == Set(("a.test", "sid")))
    // wave 1: sid stripped BEFORE the seen filter — the x alias dies, the
    // new y url schedules under its stripped canonical form
    val w1 = spark.read.parquet(s"$root/schedule/wave=1")
      .select("canonical_url").as[String].collect().toSet
    assert(w1 == Set("http://a.test/y?page=2"))
  }
}

class HostCardsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import graft.frontier.WaveLoop

  test("host cardinality channel: merged sketches track exact uniques") {
    val root = java.nio.file.Files.createTempDirectory("cards").toString
    val seeds = (0 until 30)
      .map(i => (s"http://h${i % 3}.test/p/$i", i.toLong))
      .toDF("url", "seed_idx")
    val discover: DataFrame => DataFrame = { sched =>
      sched.where(col("seed_idx") < 60)
        .select(concat(lit("http://h"), (col("seed_idx") % 3).cast("string"),
          lit(".test/p/"), (col("seed_idx") + 30).cast("string")).as("url"),
          (col("seed_idx") + 30).as("seed_idx"))
    }
    WaveLoop.run(spark, root, seeds, discover, maxWaves = 3,
      metricsParseStats = false, hostCards = true)
    // the sketches are read back with their declared schema: no Parquet
    // schema-inference job, however many waves are committed
    val cardJobs = SparkTestSession.jobsDuring(WaveLoop.hostCardinalities(spark, root))._2
    assert(cardJobs.count(_.schemaInference) == 0, cardJobs.flatMap(_.stageNames).toString)
    val exact = WaveLoop.crawlOrder(spark, root)
      .groupBy("host_rev").agg(countDistinct("url_hash").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = WaveLoop.hostCardinalities(spark, root)
      .select("host_rev", "est_urls")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet && exact.values.sum == 90)
    // linear-counting regime at n << m: estimates within a few percent
    est.foreach { case (h, e) =>
      assert(math.abs(e.toDouble / exact(h) - 1.0) < 0.05, s"$h: $e vs ${exact(h)}")
    }
    // duplicate insensitivity across waves: merging the SAME wave twice
    // changes nothing (register max is idempotent)
    val twice = spark.read.parquet(s"$root/cards/wave=0")
      .unionByName(spark.read.parquet(s"$root/cards/wave=0"))
      .groupBy("host_rev")
      .agg(graft.functions.hll_merge_agg(col("sketch")).as("sketch"))
      .select(col("host_rev"), graft.functions.hll_card_corrected(col("sketch")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val once = spark.read.parquet(s"$root/cards/wave=0")
      .select(col("host_rev"), graft.functions.hll_card_corrected(col("sketch")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twice == once)
  }
}

class DomainBudgetLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import graft.frontier.WaveLoop

  test("maxPerDomain: a subdomain farm drains at the budget rate, nothing lost") {
    val root = java.nio.file.Files.createTempDirectory("dombudget").toString
    val seeds = ((0 until 30).map(i => (s"http://sub$i.farm.co.uk/p/$i", i.toLong))
      ++ (0 until 5).map(i => (s"http://ok.example.com/p/$i", (100 + i).toLong)))
      .toDF("url", "seed_idx")
    val noDiscovery: DataFrame => DataFrame =
      _ => Seq.empty[(String, Long)].toDF("url", "seed_idx")
    val res = WaveLoop.run(spark, root, seeds, noDiscovery, maxWaves = 5,
      metricsParseStats = false, maxPerDomain = Some(10L))
    // wave 0: 10 farm + 5 ok; waves 1-2: 10 farm each; then exhausted
    assert(res.map(_.scheduled) == Seq(15, 10, 10))
    val order = WaveLoop.crawlOrder(spark, root)
      .select("canonical_url").as[String].collect()
    assert(order.length == 35 && order.distinct.length == 35)
    // deferral preserves discovery order inside the domain
    val w0farm = spark.read.parquet(s"$root/schedule/wave=0")
      .where(col("canonical_url").contains("farm"))
      .select("seed_idx").as[Long].collect().toSet
    assert(w0farm == (0L until 10L).toSet)
  }
}

class FocusLoopSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import graft.frontier.{Discover, WaveLoop}

  test("focus channel: on-topic targets fetch first once anchor evidence lands") {
    val root = java.nio.file.Files.createTempDirectory("focusloop").toString
    // one host, a root page linking a topical and an off-topic child with
    // telling anchor text; wave 0 fetches the root, the end-of-wave focus
    // pass scores /topic, and wave 1 must schedule /topic BEFORE /cats
    // within the host even though /cats was discovered first (href order)
    val pages = Seq(
      ("http://f.test/root",
        "<html><body>" +
          "<a href=\"/cats\">cat pictures daily</a>" +
          "<a href=\"/topic\">rust compiler internals guide</a>" +
          "</body></html>"),
      ("http://f.test/cats", "<html><body><p>cats</p></body></html>"),
      ("http://f.test/topic", "<html><body><p>rust</p></body></html>"))
      .toDF("url", "html")
    val seeds = Seq(("http://f.test/root", 0L)).toDF("url", "seed_idx")
    val topics = Seq((0L, "rust compiler")).toDF("qid", "qtext")
    WaveLoop.run(spark, root, seeds, Discover.fromPages(pages),
      maxWaves = 2, pages = Some(pages), metricsParseStats = false,
      focusQueries = Some(topics), focusEvery = 1)
    val w1 = spark.read.parquet(s"$root/schedule/wave=1")
      .select("canonical_url", "host_pos")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1.keySet == Set("http://f.test/topic", "http://f.test/cats"))
    assert(w1("http://f.test/topic") < w1("http://f.test/cats"),
      s"topical url must fetch first: $w1")
  }
}

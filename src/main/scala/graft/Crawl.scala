package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.frontier.{Discover, Robots, WaveLoop}
import graft.pipeline.TextPipeline

/** End-to-end crawl CLI — the rebuild's twin of the reference's `__main__`
  * + `process_urls` (`/root/reference/web_scraper_pipeline.py:196-233`), with
  * the round-2 crawl loop closed: seed URLs → multi-wave frontier (link
  * discovery, seen-ledger dedup, politeness schedule, robots, fetch/parse
  * metrics) → per-URL text pipeline → JSON results.
  *
  * Usage:
  *   runMain graft.Crawl --pages <pageTableRoot> --out <dir>
  *     [--waves N] [--gap SECONDS] [--refresh-after K] [--rank-every K]
  *     [--retry-after K] [--dust-every K] [--max-per-domain N]
  *     [--focus "topic query"]... [--focus-every K]
  *     [--block-hosts h1,h2,…] [--block-path-words w1,w2,…] url1 url2 ...
  *
  * `--refresh-after K` turns on the batch refresh channel: committed urls
  * whose last fetch is ≥ K waves old re-enter each wave's schedule (see
  * [[graft.frontier.WaveLoop.run]]); re-crawled urls contribute their
  * LATEST fetch to the results (the crawl-order join keeps every
  * appearance; results dedup keeps the newest wave per url).
  *
  * `--rank-every K` turns on the authority channel: each wave's link
  * edges ([[Discover.edgesFromPages]]) persist, PageRank recomputes every
  * K waves, and later waves fetch high-authority urls first within each
  * host ([[graft.frontier.WaveLoop.run]]'s `edgesOf`).
  *
  * `--retry-after K` turns on the error-retry channel: urls that 404'd at
  * wave W are tombstoned out of the seen ledger ([[graft.frontier.Ledger
  * .unsee]]) and re-scheduled once at wave W+K; a second failure retires
  * them (see [[graft.frontier.WaveLoop.run]]'s `retryErrorsAfter`).
  *
  * `--dust-every K` turns on the DUST channel: every K waves the loop
  * re-learns per-host content-irrelevant query parameters from fetch
  * evidence and strips them from later discoveries before the seen
  * filter ([[graft.frontier.WaveLoop.run]]'s `dustEvery`).
  *
  * `--max-per-domain N` turns on the domain-budget channel: each wave
  * fetches at most N urls per registrable domain, deferring the rest
  * ([[graft.frontier.WaveLoop.run]]'s `maxPerDomain`).
  *
  * `--focus "query"` (repeatable) turns on the focused-crawl channel:
  * link targets re-score every `--focus-every` waves by anchor-text BM25
  * relevance to the queries, and relevant urls fetch first
  * ([[graft.frontier.WaveLoop.run]]'s `focusQueries`).
  *
  * `--block-hosts` / `--block-path-words` turn on the URL quality gate
  * ([[graft.url.UrlGate]]): blocklisted domains (parent-domain matching)
  * and keyword-bearing paths are never fetched, audited as status-452
  * rows in the wave metrics.
  *
  * "Fetch" is Common-Crawl replay against a committed
  * [[graft.sources.PageTable]] (there is no live network in a 100 TB batch
  * job — divergence recorded in SURVEY.md §7.3). Output layout:
  *
  *   out/frontier/…        wave state (schedule/next/metrics/manifests,
  *                         seenstate/ seen-set ledger)
  *   out/results.parquet   url, full_text, chunks, embeddings
  *   out/results.json/     one JSON object per url (reference `:231-232`
  *                         contract, via the same to_json shape as q32)
  */
object Crawl {

  final case class Args(pages: String, out: String, waves: Int, gapSeconds: Long,
      urls: Seq[String], refreshAfter: Option[Int] = None,
      rankEvery: Option[Int] = None, retryAfter: Option[Int] = None,
      blockHosts: Seq[String] = Nil, blockPathWords: Seq[String] = Nil,
      dustEvery: Option[Int] = None, maxPerDomain: Option[Long] = None,
      focus: Seq[String] = Nil, focusEvery: Option[Int] = None)

  def parseArgs(argv: Array[String]): Args = {
    var pages = ""; var out = ""; var waves = 3; var gap = 3L
    var refresh: Option[Int] = None
    var rankEvery: Option[Int] = None
    var retryAfter: Option[Int] = None
    var blockHosts: Seq[String] = Nil
    var blockWords: Seq[String] = Nil
    var dustEvery: Option[Int] = None
    var maxPerDomain: Option[Long] = None
    var focus: Seq[String] = Nil
    var focusEvery: Option[Int] = None
    val urls = Seq.newBuilder[String]
    var i = 0
    def value(flag: String): String = {
      require(i + 1 < argv.length, s"error: $flag needs a value")
      i += 2
      argv(i - 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--pages" => pages = value("--pages")
        case "--out" => out = value("--out")
        case "--waves" => waves = value("--waves").toInt
        case "--gap" => gap = value("--gap").toLong
        case "--refresh-after" => refresh = Some(value("--refresh-after").toInt)
        case "--rank-every" => rankEvery = Some(value("--rank-every").toInt)
        case "--retry-after" => retryAfter = Some(value("--retry-after").toInt)
        case "--dust-every" => dustEvery = Some(value("--dust-every").toInt)
        case "--max-per-domain" =>
          maxPerDomain = Some(value("--max-per-domain").toLong)
        case "--focus" => focus = focus :+ value("--focus")
        case "--focus-every" => focusEvery = Some(value("--focus-every").toInt)
        case "--block-hosts" =>
          blockHosts = value("--block-hosts").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case "--block-path-words" =>
          blockWords = value("--block-path-words").split(",").map(_.trim).filter(_.nonEmpty).toSeq
        case f if f.startsWith("--") =>
          throw new IllegalArgumentException(s"error: unknown flag $f")
        case u => urls += u; i += 1
      }
    }
    val a = Args(pages, out, waves, gap, urls.result(), refresh, rankEvery,
      retryAfter, blockHosts, blockWords, dustEvery, maxPerDomain,
      focus, focusEvery)
    require(a.pages.nonEmpty, "--pages <pageTableRoot> is required")
    require(a.out.nonEmpty, "--out <dir> is required")
    require(a.urls.nonEmpty, "error: no URLs provided") // reference :227-228
    require(a.refreshAfter.forall(_ >= 1), "--refresh-after must be >= 1")
    require(a.rankEvery.forall(_ >= 1), "--rank-every must be >= 1")
    require(a.retryAfter.forall(_ >= 1), "--retry-after must be >= 1")
    require(a.dustEvery.forall(_ >= 1), "--dust-every must be >= 1")
    require(a.maxPerDomain.forall(_ >= 1), "--max-per-domain must be >= 1")
    require(a.focusEvery.forall(_ >= 1), "--focus-every must be >= 1")
    require(a.focusEvery.isEmpty || a.focus.nonEmpty,
      "--focus-every needs at least one --focus query")
    a
  }

  /** Programmatic surface (the reference's `process_urls`): runs the crawl
    * and returns the results frame (url, full_text, chunks, embeddings).
    */
  def run(spark: SparkSession, a: Args): DataFrame = {
    import spark.implicits._
    val pages = graft.sources.PageTable.read(spark, a.pages)
    val seeds = a.urls.zipWithIndex.map { case (u, i) => (u, i.toLong) }
      .toDF("url", "seed_idx")
    WaveLoop.run(spark, s"${a.out}/frontier", seeds,
      Discover.fromPages(pages), maxWaves = a.waves, gapSeconds = a.gapSeconds,
      robots = Robots.AllowAll, pages = Some(pages),
      refreshAfter = a.refreshAfter,
      retryErrorsAfter = a.retryAfter,
      edgesOf = a.rankEvery.map(_ => Discover.edgesFromPages(pages)),
      rankEvery = a.rankEvery.getOrElse(4),
      urlGate = if (a.blockHosts.isEmpty && a.blockPathWords.isEmpty) None
        else Some((a.blockHosts.toDF("host"), a.blockPathWords)),
      dustEvery = a.dustEvery.getOrElse(0),
      maxPerDomain = a.maxPerDomain,
      focusQueries = if (a.focus.isEmpty) None
        else Some(a.focus.zipWithIndex
          .map { case (q, i) => (i.toLong, q) }.toDF("qid", "qtext")),
      focusEvery = a.focusEvery.getOrElse(4))
    // crawl order drives the result set; fetch = replay join; text pipeline
    // is one codegen'd map per row
    val order0 = WaveLoop.crawlOrder(spark, s"${a.out}/frontier")
      .select("canonical_url", "wave", "slot", "host_rev", "seed_idx")
    // with the refresh (or retry) channel on, a url legitimately appears
    // once per re-crawl — the results table keeps its NEWEST fetch (one
    // row per url)
    val order = if (a.refreshAfter.isEmpty && a.retryAfter.isEmpty) order0 else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical_url")).orderBy(col("wave").desc, col("slot"))
      order0.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }
    val fetched = order.join(
      pages.select(col("url").as("canonical_url"), col("html")), Seq("canonical_url"))
    TextPipeline.results(
      fetched.withColumnRenamed("canonical_url", "url")
        .withColumn("html", col("html").cast("string")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val results = run(spark, a)
      results.write.mode(SaveMode.Overwrite).parquet(s"${a.out}/results.parquet")
      // one read-back serves both the JSON render and the count
      val written = spark.read.parquet(s"${a.out}/results.parquet")
      written
        .select(to_json(struct(col("url"), col("full_text"), col("chunks"),
          col("embeddings"))).as("value"))
        .write.mode(SaveMode.Overwrite).text(s"${a.out}/results.json")
      val n = written.count() // column-pruned scan, no embeddings read
      println(s"""{"crawled_urls":$n,"out":"${a.out}"}""")
    } finally spark.stop()
  }
}

package graft.frontier

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import graft.functions.{extract_links, resolve_url, extract_readable, chunk_text}
import graft.sources.PageTable

/** Link discovery and per-URL fetch/parse metrics — the two operators that
  * close the crawl loop (the reference never discovers links: its URL list
  * is fixed, `/root/reference/web_scraper_pipeline.py:41-56`, so these
  * semantics are north-rule surface, not reference parity).
  */
object Discover {

  /** Real link discovery for [[WaveLoop.run]]: scheduled wave ⋈ pages on
    * canonical_url → `extract_links(html)` → RFC 3986 resolve against the
    * fetched URL → candidate next-wave frontier (url, seed_idx).
    *
    * seed_idx policy: `pmod(xxhash64(parent_url), 2^40 ∕ M) × M +
    * link_position` (M = next power of two ≥ maxLinksPerPage) — a
    * deterministic priority, NOT an id: the scheduler only needs a stable
    * total order per wave and the dedup keeps the min per URL. Hashing the
    * parent (instead of compounding the parent's own seed_idx) keeps the
    * key bounded FOREVER — a multiplicative parent_seed × K scheme
    * overflows Long after ~5 waves and silently corrupts crawl order. The
    * product stays < 2^40, the documented seed domain of
    * [[Scheduler.priorityOrderKey]]: a wider seed would silently bleed its
    * high bits into the packed PRIORITY field when the two compose (the
    * intended frontier-prioritization use). BFS layering comes from the
    * waves themselves; within a wave the order is (parent-hash,
    * position-on-page), the usual arbitrary-but-deterministic frontier
    * priority.
    *
    * Scale shape: inner join on canonical_url (bucket-aligned when pages is
    * a [[graft.sources.PageTable]]), html never survives past the explode,
    * and the explode output is (2 longs + 1 string)/link.
    */
  def fromPages(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64, respectNofollow: Boolean = true): DataFrame => DataFrame = {
    require(maxLinksPerPage >= 1 && maxLinksPerPage <= 8192,
      s"maxLinksPerPage out of range: $maxLinksPerPage")
    val m = Discover.nextPow2(maxLinksPerPage)
    scheduled => {
      val p = PageTable.pruneTo(pages, scheduled, "canonical_url", buckets)
        .select(col("url").as("canonical_url"), col("html"))
      scheduled.select("canonical_url", "seed_idx")
        .join(p, Seq("canonical_url"))
        // meta-robots nofollow: the page asked not to have its links
        // followed — a polite crawler honors it at DISCOVERY time (one
        // extra codegen'd scan per page, fused into the same projection)
        .where(if (respectNofollow)
          !graft.functions.page_directives(col("html").cast("string"))
            .getField("nofollow")
          else lit(true))
        .select(col("canonical_url").as("base"),
          posexplode(extract_links(col("html").cast("string"))).as(Seq("pos", "href")))
        .where(col("pos") < maxLinksPerPage)
        .select(resolve_url(col("base"), col("href")).as("url"),
          (pmod(xxhash64(col("base")), lit((1L << 40) / m)) * m + col("pos"))
            .as("seed_idx"))
        .where(col("url").isNotNull)
    }
  }

  /** [[fromPages]] with MIME ROUTING — dispatch each fetched payload to
    * the right link extractor by what its BYTES are (the q94 sniffing
    * lesson: servers lie about content types, and feeding a plain-text
    * or binary payload to the HTML walker silently discovers nothing):
    *
    *  - `text/html` / `text/xml` → the `extract_links` walker, with the
    *    meta-robots nofollow gate as in [[fromPages]];
    *  - `text/plain` → `text_urls` naked-url extraction (forums, READMEs,
    *    plain-text mirrors — absolute urls resolve to themselves through
    *    the same RFC 3986 path);
    *  - anything else (images, audio, archives, binary junk) → zero
    *    links, zero parse cost beyond the ≤64-byte sniff.
    *
    * One sniff per payload (codegen'd), the two extractor branches share
    * the bucket-pruned join, and the seed_idx contract is [[fromPages]]'s
    * (text-channel positions offset by `maxLinksPerPage` so the two
    * channels cannot collide inside a page's 2^40 block).
    */
  def fromPagesSniffed(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64, respectNofollow: Boolean = true): DataFrame => DataFrame = {
    require(maxLinksPerPage >= 1 && maxLinksPerPage <= 4096,
      s"maxLinksPerPage out of range: $maxLinksPerPage")
    val m = Discover.nextPow2(maxLinksPerPage) * 2 // two channels per block
    scheduled => {
      val p = PageTable.pruneTo(pages, scheduled, "canonical_url", buckets)
        .select(col("url").as("canonical_url"), col("html"))
      val routed = scheduled.select("canonical_url", "seed_idx")
        .join(p, Seq("canonical_url"))
        .withColumn("_mime",
          graft.functions.sniff_mime(col("html").cast("binary")))
        .localCheckpoint(true) // read by both channel branches
      val htmlLinks = routed
        .where(col("_mime").isin("text/html", "text/xml"))
        .where(if (respectNofollow)
          !graft.functions.page_directives(col("html").cast("string"))
            .getField("nofollow")
          else lit(true))
        .select(col("canonical_url").as("base"),
          posexplode(extract_links(col("html").cast("string")))
            .as(Seq("pos", "href")))
      val textLinks = routed
        .where(col("_mime") === "text/plain")
        .select(col("canonical_url").as("base"),
          posexplode(graft.functions.text_urls(col("html").cast("string")))
            .as(Seq("pos0", "href")))
        .select(col("base"), (col("pos0") + maxLinksPerPage).as("pos"),
          col("href"))
      htmlLinks.where(col("pos") < maxLinksPerPage)
        .unionByName(textLinks.where(col("pos") < 2 * maxLinksPerPage))
        .select(resolve_url(col("base"), col("href")).as("url"),
          (pmod(xxhash64(col("base")), lit((1L << 40) / m)) * m + col("pos"))
            .as("seed_idx"))
        .where(col("url").isNotNull)
    }
  }

  /** Link EDGES of a scheduled wave — the producer for
    * [[WaveLoop.run]]'s authority channel (`edgesOf`): same
    * bucket-pruned pages join and href explode as [[fromPages]], emitting
    * `(src, dst)` resolved-URL pairs instead of frontier rows. A
    * production loop that runs BOTH channels pays the extract twice; the
    * single-pass fusion (stage one explode, derive both) is a
    * straightforward specialization when that matters — the channels are
    * kept separate here because discovery runs every wave while edges
    * only need to be fresh per rank refresh.
    */
  def edgesFromPages(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64): DataFrame => DataFrame = {
    require(maxLinksPerPage >= 1 && maxLinksPerPage <= 8192,
      s"maxLinksPerPage out of range: $maxLinksPerPage")
    scheduled => {
      val p = PageTable.pruneTo(pages, scheduled, "canonical_url", buckets)
        .select(col("url").as("canonical_url"), col("html"))
      scheduled.select("canonical_url")
        .join(p, Seq("canonical_url"))
        // same nofollow contract as fromPages — edges a page disallowed
        // must not feed authority either
        .where(!graft.functions.page_directives(col("html").cast("string"))
          .getField("nofollow"))
        .select(col("canonical_url").as("src"),
          posexplode(extract_links(col("html").cast("string"))).as(Seq("pos", "href")))
        .where(col("pos") < maxLinksPerPage)
        .select(col("src"), resolve_url(col("src"), col("href")).as("dst"))
        .where(col("dst").isNotNull)
    }
  }

  /** Smallest power of two ≥ n (n ≥ 1) — the position stride in the
    * seed_idx packing, power-of-two so `seed_idx mod stride` is exactly the
    * link position and the hash×stride product stays inside the 2^40 seed
    * domain for any allowed maxLinks.
    */
  private[frontier] def nextPow2(n: Int): Long =
    if (n <= 1) 1L else java.lang.Long.highestOneBit((n - 1).toLong) << 1

  /** Sitemap-channel discovery: fetched sitemap BODIES → frontier rows,
    * same (url, seed_idx) contract and the same hash-based priority policy
    * as [[fromPages]] (parent = the sitemap url, position = `<loc>` order).
    * Compose with the seen-ledger/scheduler exactly like a link batch —
    * sitemaps are just the crawl's second discovery channel (robots.txt
    * `Sitemap:` lines point here; `<sitemapindex>` nesting yields sitemap
    * urls, which the NEXT wave fetches and parses with the same operator).
    */
  def fromSitemaps(sitemaps: DataFrame, urlCol: String = "url",
      bodyCol: String = "body", maxLocsPerSitemap: Int = 8192): DataFrame = {
    require(maxLocsPerSitemap >= 1 && maxLocsPerSitemap <= 65536,
      s"maxLocsPerSitemap out of range: $maxLocsPerSitemap")
    val m = nextPow2(maxLocsPerSitemap)
    sitemaps
      .select(col(urlCol).as("__sm"),
        posexplode(Sitemap.locs(col(bodyCol))).as(Seq("pos", "url")))
      .where(col("pos") < maxLocsPerSitemap)
      // same < 2^40 bound as fromPages — see the seed_idx policy note there
      .select(col("url"),
        (pmod(xxhash64(col("__sm")), lit((1L << 40) / m)) * m + col("pos"))
          .as("seed_idx"))
  }

  /** Fetch-status vocabulary — INT codes so the metrics table stays
    * SQL/oracle-friendly. The reference ABORTS the whole run on the first
    * fetch failure (`web_scraper_pipeline.py:64-65`); a 10^10-row job
    * records per-row status instead (divergence noted in SURVEY §7.3).
    */
  val StatusOk = 200
  val StatusMiss = 404          // join miss — the 404 analogue in replay
  val StatusParseError = 422    // page fetched but the extractor got nothing
  val StatusRobotsDenied = 451  // the robots gate said no; row kept, not fetched
  val StatusUrlPolicyDenied = 452 // URL quality gate (blocklist/path words) said no
  //                                 — nonstandard code, chosen next to 451 so the
  //                                 "denied, never attempted" family groups in scans

  /** Per-URL fetch/parse metrics (north rule: "fetch/parse metrics written
    * to Iceberg"): left-join the frontier against the pages table — a join
    * miss is the 404 analogue — and compute parse metrics on the hits.
    *
    * @param frontier must carry `urlCol` (the frontier-side join key)
    * @param pages    must carry (url, html)
    * @param robots   parsed rules; denied rows FLOW THROUGH with status 451
    *                 (metrics must account for every frontier row — a gate
    *                 that silently drops rows makes wave totals unauditable)
    * @param parseStats when false, skip the extract+chunk pass entirely:
    *                 status degrades to {200, 404, 451} (no 422 — nothing
    *                 parsed) and the parse columns are NULL. At 100 TB the
    *                 extractor dominates per-row cost and the DOWNSTREAM
    *                 text pipeline extracts anyway — a metrics pass that
    *                 re-extracts doubles the bill, so the loop can turn it
    *                 off and let parse stats come from the consumer.
    * @return frontier columns + (status INT 200|404|422|451,
    *         n_chars BIGINT, n_chunks BIGINT; parse columns NULL unless 200)
    */
  def fetchParse(frontier: DataFrame, pages: DataFrame,
      maxWords: Int = graft.text.Chunker.MaxWords,
      overlap: Int = graft.text.Chunker.OverlapWords,
      urlCol: String = "url", buckets: Int = 64,
      robots: Robots.FullRules = Robots.FullAllowAll,
      parseStats: Boolean = true): DataFrame = {
    val p = PageTable.pruneTo(pages, frontier, urlCol, buckets)
      .select(col("url").as("__page_url"), col("html").as("__html"))
    val denied =
      if (robots.byHost.isEmpty && (robots.default eq Robots.HostRules.AllowAll)) lit(false)
      else !Robots.allowedColFull(frontier.sparkSession, robots,
        graft.functions.host_of(frontier(urlCol)),
        graft.functions.url_path(frontier(urlCol)))
    val joined = frontier.join(p, frontier(urlCol) === p("__page_url"), "left")
    val statused =
      if (!parseStats)
        joined
          .withColumn("status",
            when(denied, StatusRobotsDenied)
              .when(col("__html").isNull, StatusMiss)
              .otherwise(StatusOk).cast("int"))
          .withColumn("n_chars", lit(null).cast("long"))
          .withColumn("n_chunks", lit(null).cast("long"))
      else
        joined
          // denied rows skip the parse entirely (the gate would have skipped
          // the fetch; at scale the extractor is the dominant per-row cost)
          .withColumn("__extracted",
            when(denied, lit(null)).otherwise(extract_readable(col("__html").cast("string"))))
          .withColumn("status",
            when(denied, StatusRobotsDenied)
              .when(col("__html").isNull, StatusMiss)
              .when(length(col("__extracted")) === 0, StatusParseError)
              .otherwise(StatusOk).cast("int"))
          .withColumn("n_chars",
            when(col("status") === StatusOk, length(col("__extracted"))).cast("long"))
          .withColumn("n_chunks",
            when(col("status") === StatusOk,
              size(chunk_text(col("__extracted"), maxWords, overlap))).cast("long"))
          .drop("__extracted")
    statused.drop("__page_url", "__html")
  }
}

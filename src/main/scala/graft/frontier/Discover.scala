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
    * deterministic priority, NOT an id: the scheduler needs a stable total
    * order per wave and the dedup keeps the min per URL. Hashing the parent
    * (a parent_seed × K scheme overflows Long after ~5 waves and silently
    * corrupts crawl order) keeps the key below 2^40 forever, inside the
    * seed domain of [[Scheduler.priorityOrderKey]] (a wider seed would
    * bleed into its packed PRIORITY field). Within a wave the order is
    * (parent-hash, position-on-page); BFS layering comes from the waves.
    *
    * Scale shape: one bucket-pruned join on canonical_url, html never
    * survives the projection that builds the link array, and the explode
    * output is (2 longs + 1 string)/link.
    */
  def fromPages(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64, respectNofollow: Boolean = true): PageLinks =
    PageLinks(pages, maxLinksPerPage, buckets, respectNofollow)

  /** Link EDGES of a scheduled wave — the producer for [[WaveLoop.run]]'s
    * authority channel (`edgesOf`): [[fromPages]]'s link rows as `(src,
    * dst)` resolved-URL pairs. Always nofollow-gated: edges a page
    * disallowed must not feed authority either.
    */
  def edgesFromPages(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64): PageLinks =
    PageLinks(pages, maxLinksPerPage, buckets, asEdges = true)

  /** A discovery function backed by a pages table ([[fromPages]],
    * [[edgesFromPages]]): called on a wave it joins the pages itself; a
    * [[WaveLoop.run]] over this very `pages` frame hands it the wave's one
    * fetched frame instead ([[rows]]).
    */
  final case class PageLinks(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64, respectNofollow: Boolean = true, asEdges: Boolean = false)
      extends (DataFrame => DataFrame) {
    require(maxLinksPerPage >= 1 && maxLinksPerPage <= 8192,
      s"maxLinksPerPage out of range: $maxLinksPerPage")

    def apply(scheduled: DataFrame): DataFrame =
      rows(fetched(scheduled.select("canonical_url"), pages, "canonical_url", buckets,
        parseStats = false)(h => Seq(gatedLinks(h, respectNofollow).as("links"))))

    /** The rows from a [[fetched]] frame carrying this gate's `links`. */
    private[frontier] def rows(fetchedLinks: DataFrame): DataFrame = {
      val r = linkRows(fetchedLinks, maxLinksPerPage, nextPow2(maxLinksPerPage))
      if (asEdges) r.select(col("base").as("src"), col("url").as("dst"))
      else r.select("url", "seed_idx")
    }
  }

  /** [[fromPages]] with MIME ROUTING — dispatch each fetched payload to
    * the right link extractor by what its BYTES are (the q94 sniffing
    * lesson: servers lie about content types, and feeding a plain-text
    * or binary payload to the HTML walker silently discovers nothing):
    * `text/html` / `text/xml` → the nofollow-gated `extract_links` walker;
    * `text/plain` → `text_urls` naked-url extraction (forums, READMEs,
    * plain-text mirrors); anything else (images, audio, archives, binary
    * junk) → zero links, zero parse cost beyond the ≤64-byte sniff. One
    * sniff per payload picks one link array per page, exploded once; the
    * seed_idx contract is [[fromPages]]'s, text-channel positions offset
    * by `maxLinksPerPage` so the channels cannot collide in a page's block.
    */
  def fromPagesSniffed(pages: DataFrame, maxLinksPerPage: Int = 1024,
      buckets: Int = 64, respectNofollow: Boolean = true): DataFrame => DataFrame = {
    require(maxLinksPerPage >= 1 && maxLinksPerPage <= 4096,
      s"maxLinksPerPage out of range: $maxLinksPerPage")
    val m = Discover.nextPow2(maxLinksPerPage) * 2 // two channels per block
    scheduled => linkRows(fetched(scheduled.select("canonical_url"), pages, "canonical_url",
        buckets, parseStats = false) { h =>
      val mime = graft.functions.sniff_mime(h.cast("binary"))
      Seq(when(mime.isin("text/html", "text/xml"), gatedLinks(h, respectNofollow))
          .when(mime === "text/plain", graft.functions.text_urls(h)).otherwise(NoLinks).as("links"),
        when(mime === "text/plain", maxLinksPerPage).otherwise(0).as("offset"))
    }, maxLinksPerPage, m, Some("offset")).select("url", "seed_idx")
  }

  private val NoLinks = typedLit(Seq.empty[String])

  /** The page's links; empty when `respectNofollow` and its meta robots say
    * nofollow (a polite crawler honors that at discovery time).
    */
  private[frontier] def gatedLinks(html: Column, respectNofollow: Boolean): Column =
    if (respectNofollow)
      when(graft.functions.page_directives(html).getField("nofollow"), NoLinks)
        .otherwise(extract_links(html))
    else extract_links(html)

  /** The link-row builder: (canonical_url, links) → one (base, url,
    * seed_idx) row per link among the first `maxLinksPerPage`, resolved
    * against the page url (unresolvable hrefs drop), seed_idx packed at
    * stride `m`; an `offset` column shifts its page's positions after the cap.
    */
  private def linkRows(fetchedLinks: DataFrame, maxLinksPerPage: Int, m: Long,
      offset: Option[String] = None): DataFrame =
    fetchedLinks
      .select((col("canonical_url").as("base") +: offset.map(col).toSeq) :+
        posexplode(col("links")).as(Seq("pos", "href")): _*)
      .where(col("pos") < maxLinksPerPage)
      .select(col("base"), resolve_url(col("base"), col("href")).as("url"),
        (pmod(xxhash64(col("base")), lit((1L << 40) / m)) * m +
          offset.fold(col("pos"))(col("pos") + col(_))).as("seed_idx"))
      .where(col("url").isNotNull)

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
    * @param parseStats when false, skip the extract+chunk pass: status is
    *                 one of {200, 404, 451} and the parse columns are NULL.
    *                 At 100 TB the downstream text pipeline extracts anyway,
    *                 and a second extract would double the per-row bill.
    * @return frontier columns + (status INT 200|404|422|451,
    *         n_chars BIGINT, n_chunks BIGINT; parse columns NULL unless 200)
    */
  def fetchParse(frontier: DataFrame, pages: DataFrame,
      maxWords: Int = graft.text.Chunker.MaxWords,
      overlap: Int = graft.text.Chunker.OverlapWords,
      urlCol: String = "url", buckets: Int = 64,
      robots: Robots.FullRules = Robots.FullAllowAll,
      parseStats: Boolean = true): DataFrame =
    fetched(frontier, pages, urlCol, buckets, robots, parseStats, maxWords, overlap)()

  /** The fetch builder: frontier ⋈ bucket-pruned pages (one
    * [[PageTable.pruneTo]] to `keyBuckets` when the caller observed the
    * frontier's buckets, one left join; a miss is a NULL page), projected
    * once to the frontier columns, the [[fetchParse]] columns and `extra`
    * columns over the page cast to string once (NULL on a miss or a robots
    * denial: denied rows parse nothing). Every reader of a page selects
    * from it; [[WaveLoop.run]] builds it once per wave.
    */
  private[frontier] def fetched(frontier: DataFrame, pages: DataFrame, urlCol: String,
      buckets: Int = 64, robots: Robots.FullRules = Robots.FullAllowAll,
      parseStats: Boolean = true,
      maxWords: Int = graft.text.Chunker.MaxWords,
      overlap: Int = graft.text.Chunker.OverlapWords,
      keyBuckets: Option[Seq[Int]] = None)(
      extra: Column => Seq[Column] = _ => Nil): DataFrame = {
    val denied =
      if (robots.byHost.isEmpty && (robots.default eq Robots.HostRules.AllowAll)) lit(false)
      else !Robots.allowedColFull(frontier.sparkSession, robots, frontier(urlCol))
    val p = PageTable.pruneTo(pages, frontier, urlCol, buckets, keyBuckets)
      .select(col("url").as("__page_url"), col("html").as("__page"))
    val joined = frontier.join(p, frontier(urlCol) === p("__page_url"), "left")
      .withColumn("__html", col("__page").cast("string"))
    // the gate would have skipped the fetch; at scale the extractor is the
    // dominant per-row cost
    val html = when(denied, lit(null)).otherwise(col("__html"))
    val status = when(denied, StatusRobotsDenied).when(col("__html").isNull, StatusMiss)
    val statused =
      if (!parseStats)
        joined.withColumn("status", status.otherwise(StatusOk).cast("int"))
          .withColumn("n_chars", lit(null).cast("long"))
          .withColumn("n_chunks", lit(null).cast("long"))
      else {
        val extracted = col("__extracted")
        val ok = col("status") === StatusOk
        joined.withColumn("__extracted", extract_readable(html))
          .withColumn("status", status.when(length(extracted) === 0, StatusParseError)
            .otherwise(StatusOk).cast("int"))
          .withColumn("n_chars", when(ok, length(extracted)).cast("long"))
          .withColumn("n_chunks", when(ok, size(chunk_text(extracted, maxWords, overlap))).cast("long"))
      }
    statused.select(frontier.columns.map(col) ++
      Seq(col("status"), col("n_chars"), col("n_chunks")) ++ extra(html): _*)
  }
}

package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.canonicalize_url

/** Sitemap extraction (sitemaps.org protocol): a crawl's OTHER discovery
  * channel besides page links — `robots.txt` points at sitemap.xml files
  * whose `<loc>` entries seed the frontier directly.
  *
  * Kept deliberately regex-native (`regexp_extract_all` is codegen'd and
  * the sitemap format pins `<loc>` to a flat leaf element): works for both
  * `<urlset>` leaves and `<sitemapindex>` nests (same tag), tolerates
  * whitespace padding inside the element, and ignores every other element.
  * Feed the result through `canonicalize_url` + the seen-ledger like any
  * discovered link batch.
  */
object Sitemap {

  /** All `<loc>` values of a sitemap body, document order, trimmed. */
  def locs(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("<loc>([^<]+)</loc>"), lit(1)),
      x => trim(x))

  /** `<url>` entries WITH their change metadata:
    * `array<struct<loc: string, lastmod: string>>` in document order —
    * `lastmod` is the raw W3C-datetime text ("" when the element is
    * absent; parse with [[lastmodTs]]). Loose top-level `<loc>`s outside
    * a `<url>` wrapper (sitemapindex files) are [[locs]]' job — an index
    * entry's `<lastmod>` stamps the sub-sitemap file, not any page.
    */
  def entries(xml: Column): Column =
    transform(
      regexp_extract_all(xml, lit("(?s)<url>(.*?)</url>"), lit(1)),
      b => struct(
        trim(regexp_extract(b, "<loc>([^<]+)</loc>", 1)).as("loc"),
        trim(regexp_extract(b, "<lastmod>([^<]+)</lastmod>", 1)).as("lastmod"),
        trim(regexp_extract(b, "<changefreq>([^<]+)</changefreq>", 1))
          .as("changefreq"),
        trim(regexp_extract(b, "<priority>([^<]+)</priority>", 1))
          .as("priority")))

  /** `<changefreq>` → refresh TTL seconds (sitemaps.org vocabulary).
    * `always` is 0 (re-check on every visit); `never`, garbage, and
    * absent are all null — "no TTL evidence", which [[refreshDue]]
    * treats as never-refresh-by-TTL (the hint is advisory; a `never`
    * page still refreshes when its `lastmod` moves).
    */
  def changefreqSeconds(c: Column): Column = {
    val s = lower(trim(c))
    when(s === "always", lit(0L))
      .when(s === "hourly", lit(3600L))
      .when(s === "daily", lit(86400L))
      .when(s === "weekly", lit(604800L))
      .when(s === "monthly", lit(2592000L))
      .when(s === "yearly", lit(31536000L))
      .otherwise(lit(null).cast("long"))
  }

  /** Tolerant W3C-datetime parse → TIMESTAMP or null — NEVER a task
    * failure (the ANSI to_timestamp lesson from the WARC reader: one
    * malformed date on real crawl data must not kill a job). Accepts the
    * numeric-offset form (converted), `Z`/naive forms (read as UTC —
    * session timezone is pinned UTC engine-wide), and date-only; anything
    * else (including garbage) is null = "unknown", which [[staleBySitemap]]
    * treats as not-provably-stale.
    */
  def lastmodTs(c: Column): Column = {
    val s = trim(c)
    coalesce(
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
      try_to_timestamp(s, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
      try_to_timestamp(regexp_replace(regexp_replace(s, "[Tt]", " "), "[Zz]$", "")))
  }

  /** Conditional-refresh scheduling from sitemap change stamps — the
    * polite alternative to blind TTL re-crawls (refresh only what the
    * site SAYS changed, fetch what was never seen): explode sitemap
    * bodies to (url, lastmod), keep the NEWEST stamp per url (a url may
    * appear in many sitemap files), left-join the fetch log, and emit the
    * rows worth scheduling: never-fetched urls (`reason = never_fetched`)
    * and fetched urls whose lastmod is strictly newer (`modified`). A
    * null/unparseable/absent lastmod can justify a FIRST fetch but never
    * a re-fetch — "unknown" is not evidence of change.
    *
    * Scale shape: one explode + one map-combinable max-groupBy on the
    * sitemap side (the small side — sitemap entries, not pages), then ONE
    * equi-join against the fetch log. `fetched` must carry one row per
    * url (the page table's current view does); duplicate urls there would
    * duplicate output rows.
    */
  def staleBySitemap(sitemaps: DataFrame, fetched: DataFrame,
      xmlCol: String = "xml", urlCol: String = "url",
      tsCol: String = "fetched_at"): DataFrame = {
    val ent = sitemaps
      .select(explode(entries(col(xmlCol))).as("e"))
      .select(canonicalize_url(col("e.loc")).as("url"),
        lastmodTs(col("e.lastmod")).as("lastmod"))
      .where(col("url").isNotNull)
      .groupBy("url").agg(max(col("lastmod")).as("lastmod"))
    val log = fetched.select(canonicalize_url(col(urlCol)).as("url"),
      col(tsCol).as("fetched_at"))
    ent.join(log, Seq("url"), "left")
      .where(col("fetched_at").isNull ||
        (col("lastmod").isNotNull && col("lastmod") > col("fetched_at")))
      .withColumn("reason",
        when(col("fetched_at").isNull, lit("never_fetched"))
          .otherwise(lit("modified")))
  }

  /** Full refresh verdict from ALL the sitemap change metadata — the
    * [[staleBySitemap]] lastmod channel plus the `<changefreq>` TTL hint
    * and the `<priority>` queue weight:
    *
    *  - `never_fetched` — in a sitemap, not in the fetch log;
    *  - `modified` — lastmod strictly newer than the fetch stamp;
    *  - `ttl_expired` — NO lastmod (the site doesn't say when it
    *    changed), but its changefreq TTL has elapsed by `now`. A present
    *    lastmod that is NOT newer suppresses the TTL branch — the site
    *    said "unchanged since X", which beats a generic cadence hint.
    *
    * `priority_ppm` = floor(priority × 10^6) (spec default 0.5 when the
    * element is absent/unparseable) rides along as the refresh queue's
    * order key. Per-url aggregation over many sitemap files: newest
    * lastmod, most EAGER ttl (min), highest priority. Same one-explode +
    * map-combinable-groupBy + one-join shape as [[staleBySitemap]].
    */
  def refreshDue(sitemaps: DataFrame, fetched: DataFrame, now: Column,
      xmlCol: String = "xml", urlCol: String = "url",
      tsCol: String = "fetched_at"): DataFrame = {
    val ent = sitemaps
      .select(explode(entries(col(xmlCol))).as("e"))
      .select(canonicalize_url(col("e.loc")).as("url"),
        lastmodTs(col("e.lastmod")).as("lastmod"),
        changefreqSeconds(col("e.changefreq")).as("ttl"),
        floor(coalesce(expr("try_cast(e.priority AS DOUBLE)"), lit(0.5d))
          * 1000000L).cast("long").as("priority_ppm"))
      .where(col("url").isNotNull)
      .groupBy("url").agg(max(col("lastmod")).as("lastmod"),
        min(col("ttl")).as("ttl"), max(col("priority_ppm")).as("priority_ppm"))
    // NEWEST stamp per url: a refresh-channel fetch log legitimately
    // carries one row per (url, fetch) — joining it raw would emit
    // contradictory verdicts (the old stamp says ttl_expired, the new one
    // says fresh). Unlike staleBySitemap's documented one-row contract,
    // this operator aggregates, because its caller IS the refresh loop.
    val log = fetched.select(canonicalize_url(col(urlCol)).as("url"),
        col(tsCol).as("fetched_at"))
      .groupBy("url").agg(max(col("fetched_at")).as("fetched_at"))
    ent.join(log, Seq("url"), "left")
      .withColumn("reason",
        when(col("fetched_at").isNull, lit("never_fetched"))
          .when(col("lastmod").isNotNull && col("lastmod") > col("fetched_at"),
            lit("modified"))
          .when(col("lastmod").isNull && col("ttl").isNotNull &&
            unix_timestamp(now) - unix_timestamp(col("fetched_at")) >= col("ttl"),
            lit("ttl_expired")))
      .where(col("reason").isNotNull)
      .select("url", "reason", "priority_ppm")
  }
}

package graft.url

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-trap defense: detect and cap INFINITE URL SPACES (calendar pages,
  * session ids, faceted-navigation product grids — the classic spider
  * traps) before they eat the fetch budget. The reference crawler cannot
  * fall into traps (its URL list is fixed, `web_scraper_pipeline.py:41-56`),
  * so these semantics are the rebuild's own, from the standard heuristic:
  * fold every URL to its host + path TEMPLATE (variable-looking segments
  * replaced by placeholders), and treat a template generating too many
  * distinct URLs as a trap — its first few URLs are worth fetching (real
  * sites have real /article/N pages), its millionth is not.
  *
  * All template arithmetic is two regexp_replaces (codegen'd, and
  * replayable verbatim in any engine); the cap is the salted skew-proof
  * rank — a trap template with 10^7 URLs is EXACTLY the partition-skew
  * case [[graft.frontier.Scheduler.perHostRankSalted]] exists for, so the
  * cap never funnels a trap's rows through one task.
  */
object Traps {

  /** host + folded path-and-query: long hex runs (session ids, uuids,
    * hashes) → 'H' first, then any digit run → 'N'. Hex BEFORE digits — a
    * 32-char hash is one H, not an N/letter sandwich. The query string is
    * part of the fold ('?page=N&sid=H'): faceted/paginated traps live
    * there, which is why this strips only the scheme+authority prefix
    * rather than using the path accessor. Three codegen'd regexes, each
    * replayable verbatim in any engine.
    */
  def urlTemplate(url: Column): Column =
    concat(graft.functions.host_of(url), lit(" "),
      regexp_replace(
        regexp_replace(
          regexp_replace(url, "^[a-z][a-z0-9+.-]*://[^/?#]*", ""),
          "[0-9a-f]{8,}", "H"),
        "[0-9]+", "N"))

  /** Per-template URL counts over a frontier: (template, n_urls). One
    * map-side-combinable groupBy of (template, count) — distinct urls are
    * the caller's contract (a frontier is deduped by definition).
    */
  def templateStats(frontier: DataFrame, urlCol: String = "canonical_url"): DataFrame =
    frontier.groupBy(urlTemplate(col(urlCol)).as("template"))
      .agg(count(lit(1)).as("n_urls"))

  /** Cap the frontier at `maxPerTemplate` URLs per template, keeping the
    * FIRST ones by `orderCol` (discovery order — the early pages of a real
    * template are the valuable ones). Returns (kept, deferred): deferred
    * rows carry `template` and `template_pos` so the caller can audit what
    * the cap ate (the [[graft.frontier.Scheduler.capPerHost]] contract).
    * The rank is salted and skew-proof; kept ∪ deferred == input exactly.
    */
  def capPerTemplate(frontier: DataFrame, maxPerTemplate: Long,
      urlCol: String = "canonical_url", orderCol: String = "seed_idx")
      : (DataFrame, DataFrame) = {
    require(maxPerTemplate >= 1, s"maxPerTemplate: $maxPerTemplate")
    val withT = frontier.withColumn("template", urlTemplate(col(urlCol)))
    val ranked = graft.frontier.Scheduler
      .perHostRankSalted(withT, "template", orderCol)
      .withColumnRenamed("host_pos", "template_pos")
    (ranked.where(col("template_pos") <= maxPerTemplate),
      ranked.where(col("template_pos") > maxPerTemplate))
  }
}

package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Rounds

/** HTTP redirect-chain resolution over the link graph's 3xx subset.
  *
  * A crawl that fetches `Location` headers accumulates a functional graph
  * (each redirecting URL has exactly one outgoing edge); scheduling the
  * intermediate hops wastes politeness budget and splits authority/seen
  * state across aliases, so the frontier wants every discovered URL mapped
  * to its chain's FINAL target before the seen-filter — the same alias
  * discipline as the rel=canonical collapse, fed by headers instead of
  * markup. (The reference crawler never sees redirects — Selenium follows
  * them inside the browser, `web_scraper_pipeline.py:58-66` — so these
  * semantics are the rebuild's own, from RFC 9110 §15.4.)
  *
  * Scale shape: chains are resolved by POINTER DOUBLING — round k composes
  * the hop map with itself, so after ceil(log2(maxHops)) rounds every
  * chain of length ≤ maxHops has collapsed to (src → terminal, exact hop
  * count). That is O(log maxHops) equi-joins over the 3xx subset (≪ the
  * frontier: a few percent of fetches on real crawls), each round
  * materialized via localCheckpoint so the self-join reads the previous
  * round's rows once instead of re-deriving an exponentially deep lineage,
  * and the superseded round released — the round rules of
  * [[graft.core.Rounds]], shared with [[graft.dedup.Components]]. A
  * hop-by-hop loop would be maxHops sequential joins; at 10^10 URLs the
  * doubling form does the same work in 3-6 rounds.
  */
object Redirects {

  /** Resolve each url to its redirect chain's final target.
    *
    * @param urls  frame carrying `urlCol` — the URLs to resolve (rows pass
    *              through 1:1; non-redirecting URLs resolve to themselves
    *              with 0 hops)
    * @param edges one `(srcCol, dstCol)` row per REDIRECTING url — the
    *              Location-header map. One outgoing edge per src is the
    *              caller's contract (HTTP gives one Location per response;
    *              duplicate srcs make the chosen branch arbitrary).
    * @param maxHops chains longer than this (and cycles, which never
    *              terminate) come back unresolved — RFC-style loop
    *              protection (browsers cap around 20)
    * @return one row per input row: (urlCol, final_url, hops, resolved) —
    *         resolved=true carries the terminal url and the EXACT hop
    *         count; resolved=false (cycle / over-cap) carries NULLs, so a
    *         consumer can quarantine rather than crawl a trap.
    */
  def resolve(urls: DataFrame, edges: DataFrame, maxHops: Int = 8,
      urlCol: String = "url", srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(maxHops >= 1 && maxHops <= 1024, s"maxHops out of range: $maxHops")
    // round 0: the raw hop map, materialized — round 1 composes it with
    // itself (left + right of the self-join), so a lazy form would run the
    // caller's edge-derivation upstream twice. h tracks exact hops covered.
    var e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      lit(1L).as("h"))
      .localCheckpoint(true)
    var covered = 1L
    while (covered < maxHops) {
      val m = e.select(col("src").as("m_src"), col("dst").as("m_dst"),
        col("h").as("m_h"))
      // compose the map with itself: a dst that is itself a src jumps
      // ahead by that row's covered hops; a terminal dst has no match and
      // the row is already a fixed point. Left join keeps fixed points.
      val next = e.join(m, col("dst") === col("m_src"), "left")
        .select(col("src"),
          coalesce(col("m_dst"), col("dst")).as("dst"),
          (col("h") + coalesce(col("m_h"), lit(0L))).as("h"))
        .localCheckpoint(true)
      Rounds.release(e)
      e = next
      covered <<= 1
    }
    // after the loop e maps every src min(chainLen, covered) hops ahead,
    // covered >= maxHops — so a src whose final dst is STILL a source
    // either sits on a cycle or needs > maxHops hops: unresolved either way.
    val srcSet = edges.select(col(srcCol).as("final_url"),
      lit(true).as("__nonterminal")).distinct()
    urls
      .join(e.withColumnRenamed("src", urlCol), Seq(urlCol), "left")
      .select(urls.columns.map(col) :+
        coalesce(col("dst"), col(urlCol)).as("final_url") :+
        coalesce(col("h"), lit(0L)).as("hops"): _*)
      .join(srcSet, Seq("final_url"), "left")
      .select(urls.columns.map(col) :+
        col("final_url") :+ col("hops") :+
        (col("__nonterminal").isNull && col("hops") <= maxHops).as("resolved"): _*)
      .select(urls.columns.map(col) :+
        when(col("resolved"), col("final_url")).as("final_url") :+
        when(col("resolved"), col("hops")).as("hops") :+
        col("resolved"): _*)
  }
}

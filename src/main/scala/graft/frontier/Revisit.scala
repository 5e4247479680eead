package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Revisit classification between two crawl snapshots — the measurement
  * half of the freshness literature (Cho & Garcia-Molina's change-rate
  * estimation): every url is `new` / `gone` / `modified` / `unchanged`,
  * and per-host change rates feed the refresh scheduler (a host whose
  * pages never change earns a long TTL; a news host earns a short one —
  * the empirical prior behind [[Ledger.staleFrontier]]'s fixed TTL and
  * the q84 sitemap-lastmod channel when sites publish no lastmod).
  *
  * Scale shape: page bytes are DIGESTED per side before the join — the
  * full-outer join moves (url, 32-char digest) rows, never html — and the
  * host rollup is one map-side-combinable count pivot. Change fraction is
  * integer ppm over REVISITED pages only (new/gone say nothing about
  * mutation rate).
  */
object Revisit {

  /** (url, status) for every url in either snapshot. Digest compare (md5),
    * not byte compare: collisions are ignorable and the join payload stays
    * constant-width regardless of page size.
    */
  def classify(prev: DataFrame, cur: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame = {
    // cast to BINARY, not string: md5 consumes bytes, and BINARY html
    // columns would otherwise pay a UTF-8 decode+re-encode per page body
    // (and mangle invalid-UTF-8 bytes); for STRING columns the cast is the
    // same UTF-8 encode md5's implicit cast performs — digests unchanged
    val p = prev.select(col(urlCol).as("url"),
      md5(col(htmlCol).cast("binary")).as("__pd"))
    val c = cur.select(col(urlCol).as("url"),
      md5(col(htmlCol).cast("binary")).as("__cd"))
    p.join(c, Seq("url"), "full_outer")
      .select(col("url"),
        when(col("__pd").isNull, lit("new"))
          .when(col("__cd").isNull, lit("gone"))
          .when(col("__pd") === col("__cd"), lit("unchanged"))
          .otherwise(lit("modified")).as("status"))
  }

  /** Per-host rollup of [[classify]]: counts per status + `change_ppm` =
    * modified ∕ (modified + unchanged) in integer ppm (floor) — the
    * mutation-rate estimate over pages seen in BOTH snapshots.
    */
  def changeRates(prev: DataFrame, cur: DataFrame, urlCol: String = "url",
      htmlCol: String = "html"): DataFrame =
    classify(prev, cur, urlCol, htmlCol)
      .groupBy(graft.functions.host_of(col("url")).as("host"))
      .agg(
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "gone", 1L).otherwise(0L)).as("n_gone"),
        sum(when(col("status") === "modified", 1L).otherwise(0L)).as("n_modified"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .withColumn("change_ppm",
        when(col("n_modified") + col("n_unchanged") > 0,
          expr("(1000000 * n_modified) DIV (n_modified + n_unchanged)"))
          .otherwise(lit(null).cast("long")))

  /** Change rates → per-host refresh TTLs — the Cho & Garcia-Molina
    * loop CLOSED: the measured mutation rate SETS the re-crawl cadence
    * instead of a blind global TTL. Linear map, exact integer
    * arithmetic: `ttl = maxTtl − (maxTtl − minTtl)·change_ppm DIV 10^6`
    * — an all-changing host (10^6 ppm) refreshes every `minTtlWaves`,
    * a frozen one every `maxTtlWaves`; hosts with NO revisit evidence
    * (null ppm) sit at `maxTtlWaves` — absence of evidence is not
    * evidence of churn. Feed the result to
    * [[Ledger.staleFrontierAdaptive]].
    */
  def ttlFromChangeRates(rates: DataFrame, minTtlWaves: Long,
      maxTtlWaves: Long): DataFrame = {
    require(1L <= minTtlWaves && minTtlWaves <= maxTtlWaves,
      s"ttl bounds: [$minTtlWaves, $maxTtlWaves]")
    rates.select(col("host"),
      (lit(maxTtlWaves) - expr(
        s"((${maxTtlWaves - minTtlWaves}) * coalesce(change_ppm, 0)) DIV 1000000"))
        .as("ttl_waves"))
  }

  /** LINE-level change measurement for urls present in BOTH snapshots —
    * what actually changed, not just that something did: per url,
    * `n_added` / `n_removed` / `n_common` over the DISTINCT line sets
    * (multiset diffs overweight repeated boilerplate lines; set semantics
    * match the CCNet line-dedup view of a page). The crawl product this
    * feeds is change MAGNITUDE: a timestamp-only rotation (1 line) and a
    * rewrite (hundreds) both read "modified" to [[classify]], but refresh
    * policy should treat them very differently.
    *
    * Shape: lines explode to (url, line-hash) pairs — 8-byte values, text
    * never shuffles — and each side collapses to ONE row per url carrying
    * its distinct line-hash set; the diff is then a single url-keyed join
    * plus array set arithmetic. (The round-5 layout full-outer-joined the
    * exploded per-line rows and needed two extra url-distinct passes for
    * the both-sides gate — 6 exchanges against this layout's 3, measured
    * 4.6 s → 0.4 s at sf0.1.) The per-url array is bounded by the page's
    * distinct line count — the same per-document bound every per-doc
    * aggregate in the pipeline carries; a CRLF snapshot diffs clean against
    * an LF one because the split is `\r?\n` (the C4 line-split discipline).
    * Urls in only one snapshot are [[classify]]'s new/gone business and
    * are excluded here: the null-sentinel union keeps zero-line urls
    * grouped, so the inner join IS the both-snapshots gate.
    *
    * Versioned behaviour change (round 6): lines split on `\r?\n` (was
    * `\n`, so a CRLF snapshot read as rewritten against its LF twin) and a
    * line's identity is its xxhash64 (was md5). q113's LF-only fixture
    * counts the same under both, so its oracle is unchanged.
    */
  def lineDiff(prev: DataFrame, cur: DataFrame, urlCol: String = "url",
      textCol: String = "text"): DataFrame = {
    def lineSets(df: DataFrame, setCol: String) = df
      .select(col(urlCol).as("url"),
        explode(split(col(textCol), "\\r?\\n")).as("__line"))
      .where(col("__line") =!= "")
      .select(col("url"), xxhash64(col("__line")).as("__h"))
      // one null sentinel per source row: collect_set skips nulls, so a url
      // whose text has no lines still groups (empty set) and stays joinable
      .unionByName(df.select(col(urlCol).as("url"),
        lit(null).cast("long").as("__h")))
      .groupBy("url").agg(collect_set(col("__h")).as(setCol))
    val p = lineSets(prev, "__ps")
    val c = lineSets(cur, "__cs")
    p.join(c, Seq("url"))
      // a url present in both snapshots with zero lines on both sides never
      // produced a line row in the round-5 layout either — keep it absent
      .where(size(col("__ps")) + size(col("__cs")) > 0)
      .select(col("url"),
        size(array_except(col("__cs"), col("__ps"))).cast("long").as("n_added"),
        size(array_except(col("__ps"), col("__cs"))).cast("long").as("n_removed"),
        size(array_intersect(col("__ps"), col("__cs"))).cast("long").as("n_common"))
  }
}

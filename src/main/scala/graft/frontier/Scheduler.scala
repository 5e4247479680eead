package graft.frontier

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Politeness-aware crawl scheduler.
  *
  * Semantics (SURVEY.md §2.3, pinned to the reference): the reference fetches
  * sequentially with an unconditional 3-second sleep between fetches
  * (`/root/reference/web_scraper_pipeline.py:58-62,202`) — one global worker,
  * so the "politeness budget" is a minimum inter-fetch gap. The rebuild makes
  * that explicit as a discrete-slot model:
  *
  *   per host h, its URLs (ordered by priority, then seed_idx) occupy slots
  *   0, g, 2g, … where g = per-host min-gap (seconds);
  *   global crawl order = ORDER BY (slot, host_rev, seed_idx).
  *
  * With a single host (or a single global host-class) and parallelism 1 this
  * degenerates to the reference's pure input order — the fixture bridge.
  *
  * Scale note (the part that matters at 10^10 URLs): the per-host queue
  * position is a window rank partitioned by host. A hash-partitioned window
  * puts EVERY url of a mega-host (think en.wikipedia.org) into one task —
  * the classic crawl-skew serialization. [[Scheduler.perHostRankSalted]]
  * computes the identical rank with bounded per-task work: rank within
  * (host, range-bucket) + a broadcast-joined cumulative offset per bucket.
  * Buckets are ordered SEGMENTS of the per-host order key, so
  * rank = rank_in_bucket + count(earlier buckets) exactly.
  */
object Scheduler {

  /** Per-host queue position via a plain window (baseline; skew-prone). */
  def perHostRank(df: DataFrame, host: Column, orderKey: Column): DataFrame = {
    val w = Window.partitionBy(host).orderBy(orderKey)
    df.withColumn("host_pos", row_number().over(w).cast("long"))
  }

  /** Same rank, skew-proof: orderKey is bucketed into ordered segments of
    * width `bucketWidth`; rank within (host,bucket) is a small window; the
    * per-(host,bucket) counts make a small aggregate that is cumulated and
    * broadcast back. Requires a non-negative integral orderKey (seed_idx).
    *
    * `bucketWidth <= 0` → auto-size from the orderKey RANGE so there are
    * ~64 buckets regardless of key magnitude. A fixed width against an
    * unknown key range is a trap measured the hard way: 100k-wide buckets
    * over a 10^9 key range made the "tiny" offsets frame ~1M rows — a
    * multi-second driver-side broadcast build per wave. The min/max are
    * observed on the pass that materializes the input: no extra job.
    *
    * `offsetsJoin` — how the per-(host,bucket) offsets come back to the big
    * frame. At 10^8+ hosts the offsets frame (hosts × ~64 rows) outgrows
    * any broadcast, so the join mode is explicit:
    *  - "broadcast": force-hint (right for waves up to ~10^7 hosts; a hint
    *    OVERRIDES size thresholds, which is exactly the 10^8-host trap);
    *  - "shuffle": co-partitioned shuffle-hash join of both sides — the
    *    10^8-host fallback, identical ranks (property-tested on a
    *    10^6-host fixture);
    *  - "auto": no hint — AQE picks broadcast vs shuffle from the RUNTIME
    *    size of the offsets aggregate, the right default for a production
    *    crawl whose host count varies wave to wave.
    */
  def perHostRankSalted(df: DataFrame, hostCol: String, orderCol: String,
      bucketWidth: Long = -1L,
      orderKeyRange: Option[(Long, Long)] = None,
      offsetsJoin: String = "broadcast"): DataFrame = {
    // Materialize the input ONCE: the ranked side and the offsets aggregate
    // are separate consumers of the same frame, so without this the caller's
    // whole upstream executes twice (the round-5 bench plan showed the full
    // scan→bloom→anti-join→in-wave-window chain duplicated under the offsets
    // BroadcastExchange). One pass + a narrow cache beats two passes for
    // every caller whose upstream is more than a bare scan — which is every
    // production wave. With no width and no range given, the orderKey's
    // min/max ride that same pass (any superset range yields identical
    // ranks — the bucketing only needs consistent ordered segments; an
    // empty frame reads 0/0, width 1).
    def span(lo: Long, hi: Long): Long = math.max(1L, (hi - lo) / 64L + 1L)
    val (frozen, width) = orderKeyRange match {
      case _ if bucketWidth > 0 => (df.localCheckpoint(true), bucketWidth)
      case Some((lo, hi)) => (df.localCheckpoint(true), span(lo, hi))
      case None =>
        val (f, m) = graft.core.Rounds.materialize(df, min(col(orderCol)), max(col(orderCol)))
        (f, span(m(1), m(2)))
    }
    val bucketed = frozen.withColumn("_bucket", (col(orderCol) / width).cast("long"))
    val wInBucket = Window.partitionBy(col(hostCol), col("_bucket")).orderBy(col(orderCol))
    val ranked = bucketed.withColumn("_rank_in_bucket", row_number().over(wInBucket).cast("long"))
    // tiny: (#hosts × #buckets) rows
    val offsets = bucketed.groupBy(col(hostCol), col("_bucket"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_offset",
        coalesce(
          sum(col("_n")).over(
            Window.partitionBy(col(hostCol)).orderBy(col("_bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(hostCol), col("_bucket"), col("_offset"))
    val withOffsets = offsetsJoin match {
      case "broadcast" => ranked.join(broadcast(offsets), Seq(hostCol, "_bucket"))
      case "shuffle" => ranked.join(offsets.hint("shuffle_hash"), Seq(hostCol, "_bucket"))
      case "auto" => ranked.join(offsets, Seq(hostCol, "_bucket"))
      case other => throw new IllegalArgumentException(s"offsetsJoin: $other")
    }
    withOffsets
      .withColumn("host_pos", col("_rank_in_bucket") + col("_offset"))
      .drop("_bucket", "_rank_in_bucket", "_offset")
  }

  /** Full schedule: adds host_pos, slot, and the global crawl order columns.
    * gapSeconds mirrors the reference's 3 s sleep.
    *
    * `gapCol`, when present, is a PER-HOST gap in whole seconds (robots
    * Crawl-delay, adaptive backoff, host-class budgets) — the slot model
    * extends naturally: a host with gap g occupies slots 0, g, 2g, …, so
    * `slot = (host_pos - 1) × gap(host)` and the global order stays
    * `ORDER BY (slot, host_rev, seed_idx)`. Must be host-constant (evaluated
    * per row; rows of one host with different gaps would interleave
    * nonsensically) and stays a plain codegen'd column — the ranking
    * machinery is untouched.
    */
  def schedule(frontier: DataFrame, gapSeconds: Long = 3L, salted: Boolean = true,
      orderKeyRange: Option[(Long, Long)] = None,
      offsetsJoin: String = "broadcast",
      gapCol: Option[Column] = None,
      orderCol: String = "seed_idx"): DataFrame = {
    val ranked =
      if (salted) perHostRankSalted(frontier, "host_rev", orderCol, -1L, orderKeyRange, offsetsJoin)
      else perHostRank(frontier, col("host_rev"), col(orderCol))
    val gap = gapCol.map(_.cast("long")).getOrElse(lit(gapSeconds))
    ranked.withColumn("slot", (col("host_pos") - 1L) * gap)
  }

  /** Integral order key encoding "higher priority first, then discovery
    * order" for the salted ranking machinery (which needs ONE non-negative
    * integral key to form its ordered segments): key =
    * (cap − min(priority, cap)) × 2^40 + pmod(seedIdx, 2^40). Fits a
    * signed long for cap ≤ 2^20−1; seedIdx's documented domain is
    * [0, 2^40) (10^12 urls — beyond any crawl's per-wave id space, and the
    * bound both [[Discover.fromPages]] and [[Discover.fromSitemaps]]
    * honor). A seedIdx OUTSIDE that domain is folded with pmod rather than
    * trusted: un-folded, its high bits would add into the packed PRIORITY
    * field — a priority-5 row silently ranking behind a priority-0 row —
    * which is strictly worse than the fold's only cost (discovery-order
    * tiebreak becomes seedIdx mod 2^40 for out-of-domain producers).
    * Null priority ⇒ 0 (lowest).
    *
    * Use for frontier prioritization: priority = link in-degree (OPIC-ish
    * cash), host authority, refresh score, … — one groupBy-count plus a
    * key-only join, never a per-host sort change.
    */
  def priorityOrderKey(priority: Column, seedIdx: Column,
      cap: Int = (1 << 20) - 1): Column =
    // clamp BOTH sides: a negative priority (score-delta callers) would
    // otherwise blow (cap − p) past 2^23 and wrap the ×2^40 multiply
    // negative — the lowest-priority row jumping the whole queue
    (lit(cap.toLong) - least(
      greatest(coalesce(priority.cast("long"), lit(0L)), lit(0L)),
      lit(cap.toLong))) *
      lit(1L << 40) + pmod(seedIdx.cast("long"), lit(1L << 40))

  /** OPIC-ish frontier prioritization from the discovered link graph: a
    * candidate's priority = its IN-DEGREE across the wave's extracted
    * edges (how many parents point at it — the simplest useful authority
    * signal; true OPIC cash-flow iteration plugs into the same shape).
    * Exactly the dataflow [[priorityOrderKey]]'s doc promises: one
    * map-side-combinable groupBy-count over (dst) plus one key-only join —
    * the in-degree frame carries 8+8 bytes per DISTINCT url, never the
    * frontier's payload. Unreferenced urls (seeds, sitemap entries) get
    * in-degree 0 via the left join and keep pure discovery order.
    *
    * Output: `frontier` + (`in_degree`, `order_key`); schedule with
    * `Scheduler.schedule(…, orderCol = "order_key")`.
    */
  def inDegreePriority(frontier: DataFrame, edges: DataFrame,
      urlCol: String = "url", dstCol: String = "url",
      cap: Int = (1 << 20) - 1): DataFrame = {
    val indeg = edges.groupBy(col(dstCol).as(urlCol))
      .agg(count(lit(1)).as("in_degree"))
    frontier.join(indeg, Seq(urlCol), "left")
      .withColumn("in_degree", coalesce(col("in_degree"), lit(0L)))
      .withColumn("order_key",
        priorityOrderKey(col("in_degree"), col("seed_idx"), cap))
  }

  /** Per-host crawl budget: keep only each host's first `maxPerHost` urls
    * (in schedule order) and defer the rest — the standard wave-shaping
    * move against mega-hosts (a 10^8-url host would otherwise monopolize a
    * wave's fetch capacity for months of politeness slots). Returns
    * (kept, deferred); feed `deferred` back into the next wave's frontier.
    * Uses the already-computed skew-proof `host_pos`, so the cap is a
    * filter, not another window.
    */
  def capPerHost(scheduled: DataFrame, maxPerHost: Long): (DataFrame, DataFrame) =
    (scheduled.where(col("host_pos") <= maxPerHost),
      scheduled.where(col("host_pos") > maxPerHost))

  /** Per-SITE crawl budget: [[capPerHost]] at registrable-domain (eTLD+1)
    * granularity — `a.example.co.uk` and `b.example.co.uk` are one
    * operator, and per-host budgets alone let a crawler hammer one site
    * through its subdomains (or let a wildcard-subdomain spam farm dodge
    * every cap). Same salted skew-proof rank as the trap cap — a
    * 10^7-subdomain blogspot is exactly the skew case; returns
    * (kept, deferred) by FIRST-`maxPerDomain` in discovery order. The rank
    * freezes its input once and observes the order key's range on that
    * pass, so the cap costs no stats job of its own.
    */
  def capPerDomain(frontier: DataFrame, maxPerDomain: Long,
      urlCol: String = "canonical_url", orderCol: String = "seed_idx"): (DataFrame, DataFrame) = {
    require(maxPerDomain >= 1, s"maxPerDomain: $maxPerDomain")
    val withD = frontier.withColumn("domain",
      graft.functions.registrable_domain(graft.functions.host_of(col(urlCol))))
    val ranked = perHostRankSalted(withD, "domain", orderCol)
      .withColumnRenamed("host_pos", "domain_pos")
    (ranked.where(col("domain_pos") <= maxPerDomain),
      ranked.where(col("domain_pos") > maxPerDomain))
  }

  /** Per-host adaptive politeness gaps from observed fetch statuses (the
    * wave-K metrics table feeding wave K+1's schedule): hosts answering
    * with errors get backed off. gap = base + ceil(scale × err_rate) where
    * err_rate = fraction of statuses ≥ 400. One map-side-combinable
    * aggregate over (host, status) — 12 B/row on the wire; join the result
    * to the next wave's frontier as `schedule(gapCol = …)`.
    */
  def adaptiveGaps(metrics: DataFrame, hostCol: String = "host",
      statusCol: String = "status", base: Long = 1L, scale: Int = 3): DataFrame =
    metrics
      .groupBy(col(hostCol).as("host"))
      .agg(
        // denied rows (robots 451, URL policy 452) were never fetch ATTEMPTS
        // — the crawler chose not to ask. Counting them as server errors
        // would back off a host that merely disallows many paths (and, with
        // the greatest(robots, adaptive) rule, slow its ALLOWED paths forever).
        sum(when(col(statusCol) >= 400 && !col(statusCol).isin(
          Discover.StatusRobotsDenied, Discover.StatusUrlPolicyDenied), 1L).otherwise(0L)).as("_err"),
        count(lit(1)).as("_n"))
      .select(col("host"),
        (lit(base) + ceil(lit(scale) * col("_err").cast("double") / col("_n")).cast("long"))
          .as("gap_seconds"))
}

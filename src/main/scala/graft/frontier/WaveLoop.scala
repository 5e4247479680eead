package graft.frontier

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fs

/** Iterative-batch frontier loop with checkpoint/resume and per-partition
  * lineage (north rule: "checkpoint-resumable frontier state with
  * per-partition lineage and fetch/parse metrics").
  *
  * Each wave is one Spark job; state crosses waves ONLY via storage (a
  * 10^10-frontier cannot live in driver memory):
  *
  *   root/
  *     schedule/wave=K/    slot, host_rev, url, seed_idx, host_pos
  *     next/wave=K/        url, seed_idx                (wave K+1 frontier)
  *     seenstate/          the seen-set [[Ledger]] (default location)
  *     _manifest_K.json    commit marker: row counts + per-partition lineage
  *
  * The seen-set's commit order within a wave: schedule → next → ledger
  * append (fed from the committed schedule) → bloom bank → manifest; the
  * optional channels' outputs (metrics, edges, cards, …) land between
  * next and the manifest. Each of these writes is an overwrite or fenced
  * by the ledger's wave column, so a crash between any two re-runs the
  * wave to the same result.
  *
  * A wave is committed iff its manifest exists (manifest written LAST →
  * atomic-enough on a filesystem with atomic rename; on an object store the
  * marker object plays the same role). Resume = max committed wave; a
  * half-written wave directory without its manifest is ignored and
  * overwritten — the crash-recovery fixture in WaveLoopSpec kills between
  * data write and manifest write and re-runs.
  *
  * Structured Streaming is deliberately NOT used here: fixtures demand a
  * deterministic global order per wave (SURVEY.md §1.4).
  */
object WaveLoop {

  final case class WaveResult(wave: Int, scheduled: Long, newUrls: Long)

  // state I/O through graft.core.Fs (Hadoop FS from the root's scheme):
  // manifests are the crawl's commit markers and must live on the SAME
  // store as the wave data they fence — on an hdfs://+s3a:// root a
  // java.nio.file manifest would land on the driver's local disk and
  // resume-from-another-machine would replay committed waves
  def manifestPath(root: String, wave: Int): String = f"$root/_manifest_$wave%05d.json"

  def committedWaves(root: String): Seq[Int] =
    Fs.childNames(root)
      .filter(n => n.startsWith("_manifest_") && n.endsWith(".json"))
      .map(_.stripPrefix("_manifest_").stripSuffix(".json").toInt)
      .sorted

  /** Run (or resume) the crawl for `maxWaves` waves.
    *
    * @param seeds       wave-0 frontier: (url STRING, seed_idx BIGINT)
    * @param discover    link-discovery function: scheduled wave → candidate
    *                    next-wave frontier (url, seed_idx). Production:
    *                    [[Discover.fromPages]] (href extraction + RFC 3986
    *                    resolution against the pages table); tests may
    *                    inject a synthetic link function.
    * @param gapSeconds  politeness budget (reference: 3 s sleep)
    * @param pages       when present, per-URL fetch/parse metrics
    *                    ([[Discover.fetchParse]]: status 200/404, parse char
    *                    + chunk counts) are written to `metrics/wave=K` and
    *                    the fetched/missed totals land in the manifest
    * @param ledger      the seen-set: a bucketed catalog table with
    *                    incrementally-merged per-bucket blooms ([[Ledger]]) —
    *                    the 10^10-scale layout: per-wave cost tracks the
    *                    delta, the anti-join never re-shuffles the ledger,
    *                    and compaction bounds file counts. None opens a
    *                    default-parameter Ledger at `root/seenstate`
    * @param fullRules   PARSED robots rules ([[Robots.parse]]): longest-match
    *                    Allow/Disallow gate AND per-host Crawl-delay — the
    *                    scheduler slots each host at its own gap. Denied rows
    *                    are not silently dropped: when metrics are on they
    *                    land in `metrics/wave=K` with status 451. Takes
    *                    precedence over the prefix-model `robots` param.
    * @param refreshAfter when Some(n), every wave also
    *                    re-schedules committed urls whose LAST fetch is ≥ n
    *                    waves old ([[Ledger.staleFrontier]]): age-priority
    *                    order keys put refreshes after the wave's fresh
    *                    discoveries per host, oldest first. Refresh rows
    *                    BYPASS the seen-filter (they are in the ledger by
    *                    definition — that is what makes them refreshes) but
    *                    still pass the robots gate and the in-wave dedup;
    *                    scheduling one re-appends it, re-stamping its age,
    *                    so each page re-crawls exactly once per TTL window.
    *                    The loop keeps running on refresh work even when
    *                    discovery is exhausted (up to `maxWaves`).
    * @param adaptiveBackoff when Some((base, scale)), wave K's schedule uses
    *                    per-host gaps derived from wave K−1's COMMITTED fetch
    *                    metrics ([[Scheduler.adaptiveGaps]]): gap_h = base +
    *                    ceil(scale × err_rate_h). Hosts unseen in the prior
    *                    wave (and all of wave 0) use `base`. Combined with a
    *                    robots Crawl-delay by taking the LARGER of the two —
    *                    backoff may slow a host below its declared budget,
    *                    never speed it past it. State crosses waves only via
    *                    the metrics files, like everything else in the loop.
    */
  /* Error-retry channel (`retryErrorsAfter`): fetch errors (status 404)
   * of wave K−n are tombstoned out of the seen ledger ([[Ledger.unsee]])
   * and re-injected once as plain frontier rows at wave K; the `retried/`
   * url_hash set caps injection at one attempt per url. See the inline
   * comment at the channel for the full policy.
   *
   * Authority channel (`edgesOf`): scheduled wave → (src, dst) link
   * edges, persisted per wave under `edges/wave=K` (hashed to canonical
   * url_hash longs); every `rankEvery` waves the loop recomputes
   * [[Rank.pageRank]] over ALL committed edges, and later waves schedule
   * by [[Scheduler.priorityOrderKey]](floor(score × 100), seed_idx) —
   * high-authority urls fetch first within each host, discovery order
   * breaks ties. Scores cross waves only via storage (`rank/scores`),
   * like every other piece of loop state; a half-written score table (no
   * `_SUCCESS`) degrades to plain discovery order, never to a broken
   * wave. Production pairs this with a link extractor sharing
   * [[Discover.fromPages]]'s join; tests inject synthetic edges.
   *
   * Domain-budget channel (`maxPerDomain`): each wave keeps only the
   * first `maxPerDomain` DISCOVERY urls per registrable domain (salted
   * rank — the subdomain-farm skew case) and DEFERS the rest into the
   * next wave's frontier; a site drains at a bounded rate instead of
   * monopolizing waves through its subdomains. Refresh-channel rows are
   * exempt: they are already committed, so a deferred copy could never
   * pass the next wave's seen filter — their rate is the TTL's business.
   *
   * DUST channel (`dustEvery`): every `dustEvery` waves the loop
   * re-learns [[Dust.paramStripRules]] from everything fetched so far
   * (committed schedules joined to page bodies) into `dust/rules`; later
   * waves strip the learned content-irrelevant params from discovered
   * urls BEFORE canonicalization, so an infinite session-id alias family
   * collapses to one member in the seen filter instead of burning fetch
   * budget. Rules cross waves only via storage, `_SUCCESS`-fenced like
   * the rank scores; no rules yet → plain pass-through.
   *
   * Focus channel (`focusQueries` + `focusEvery`): the FOCUSED crawl
   * (Chakrabarti '99) — every `focusEvery` waves,
   * [[Anchors.focusPriorities]] re-scores link targets by anchor-text
   * BM25 relevance to the topic queries over everything fetched so far
   * (`focus/scores`), and later waves fetch on-topic urls first within
   * each host. Composes additively with the authority channel when both
   * are on (the order key clamps the sum); same storage-only/_SUCCESS
   * discipline as every other learned channel.
   */
  def run(
      spark: SparkSession,
      root: String,
      seeds: DataFrame,
      discover: DataFrame => DataFrame,
      maxWaves: Int,
      gapSeconds: Long = 3L,
      robots: Robots.Rules = Robots.AllowAll,
      pages: Option[DataFrame] = None,
      ledger: Option[Ledger] = None,
      fullRules: Option[Robots.FullRules] = None,
      metricsParseStats: Boolean = true,
      adaptiveBackoff: Option[(Long, Int)] = None,
      refreshAfter: Option[Int] = None,
      edgesOf: Option[DataFrame => DataFrame] = None,
      rankEvery: Int = 4,
      rankIters: Int = 3,
      urlGate: Option[(DataFrame, Seq[String])] = None,
      retryErrorsAfter: Option[Int] = None,
      dustEvery: Int = 0,
      dustMinSupport: Long = 2L,
      hostCards: Boolean = false,
      hostCardsP: Int = 11,
      maxPerDomain: Option[Long] = None,
      focusQueries: Option[DataFrame] = None,
      focusEvery: Int = 4,
      focusTopK: Int = 10000): Seq[WaveResult] = {

    require(retryErrorsAfter.forall(n => n >= 1 && pages.nonEmpty),
      "retryErrorsAfter needs n >= 1 and pages metrics (errors live there)")
    require(dustEvery == 0 || pages.nonEmpty,
      "dustEvery needs the pages corpus (DUST rules learn from fetched bodies)")
    require(focusQueries.isEmpty || pages.nonEmpty,
      "focusQueries needs the pages corpus (anchor evidence lives in fetched bodies)")

    Fs.mkdirs(root)
    val seen = ledger.getOrElse(new Ledger(spark, s"$root/seenstate"))
    val already = committedWaves(root)
    val startWave = if (already.isEmpty) 0 else already.max + 1
    val results = scala.collection.mutable.ArrayBuffer.empty[WaveResult]

    var wave = startWave
    var frontier: DataFrame =
      if (startWave == 0) seeds
      else spark.read.parquet(s"$root/next/wave=${startWave - 1}")

    var exhausted = false
    while (wave < maxWaves && !exhausted) {
      // refresh channel: committed urls due for a re-fetch this wave. The
      // staleness scan is one groupBy over the bucketed ledger — checkpoint
      // it so the emptiness probe and the union below run it once.
      val refreshRows = (for { n <- refreshAfter if wave > 0 }
        yield seen.staleFrontier(wave - 1, n).select("url", "seed_idx").localCheckpoint(true))
        .filter(!_.isEmpty)
      // error-retry channel: fetch errors (status 404) of wave K−n get ONE
      // retry — tombstoned out of the seen set ([[Ledger.unsee]]) and
      // re-injected as plain frontier rows that flow the NORMAL path: url
      // gate → robots → seen filter (which now passes them) → in-wave
      // dedup (so an organic rediscovery of the same url this wave
      // schedules once, not twice).
      // The `retried/` set caps attempts at ONE: the retry attempt itself
      // re-appends the url at the retry wave (> its tombstone's t_wave),
      // so after a failed retry the url is seen again AND retired — no
      // further attempts through either channel (operators wanting more
      // can call Ledger.unsee directly). Policy denials (451/452) are not
      // errors and never retry; parse errors (422) are deterministic and
      // never retry. State-write order is unsee FIRST, retired/ second:
      // unsee is idempotent, so a crash between them resumes into a full
      // retry (errs recomputes, the unsee no-ops, injection proceeds) —
      // at-least-tombstoned, at-most-once-retired.
      for {
        n <- retryErrorsAfter if wave >= n
        dir = s"$root/metrics/wave=${wave - n}" if Fs.exists(dir)
      } {
        val errs0 = spark.read.parquet(dir)
          .where(col("status") === Discover.StatusMiss)
          .select("url", "seed_idx", "url_hash")
        val retriedDir = s"$root/retried"
        // materialize BEFORE mutating state: the anti-join reads retried/,
        // which the append below is about to grow under it
        val errs = (if (Fs.exists(retriedDir))
            errs0.join(spark.read.parquet(retriedDir).select("url_hash"),
              Seq("url_hash"), "left_anti")
          else errs0).localCheckpoint(true)
        if (!errs.isEmpty) {
          seen.unsee(errs.select("url_hash"), wave - 1)
          errs.select("url_hash").write.mode(SaveMode.Append).parquet(retriedDir)
          frontier = frontier.unionByName(errs.select("url", "seed_idx"))
        }
      }
      if (frontier.isEmpty && refreshRows.isEmpty) {
        exhausted = true
      } else {
      // DUST channel (apply side): strip learned content-irrelevant params
      // BEFORE url keys — aliases collapse to one canonical url and die in
      // the seen filter instead of burning fetch budget. Rules are trusted
      // only once their _SUCCESS exists (same fencing as the rank scores).
      val dustFrontier =
        if (dustEvery > 0 && Fs.exists(s"$root/dust/rules/_SUCCESS"))
          Dust.applyRules(frontier, spark.read.parquet(s"$root/dust/rules"))
        else frontier
      val keyed0 = Seen.withUrlKeys(dustFrontier)
      // URL-policy gate FIRST (blocklist + path words, [[graft.url.UrlGate]]):
      // the cheapest signal runs before robots matching and the seen-set
      // machinery — a blocked fetch should cost nothing downstream. Denied
      // rows stay audit surface (status 452 in the wave metrics), mirroring
      // the robots gate; like robots denials they stay OUT of the seen
      // ledger, so a blocklist change lets them crawl later.
      def applyUrlGate(df: DataFrame): (DataFrame, Option[DataFrame]) =
        urlGate match {
          case Some((bl, words)) =>
            val g = graft.url.UrlGate.gate(df, "canonical_url", bl, words)
            (g.where(col("url_ok")).drop("url_ok", "url_reasons"),
              Some(g.where(!col("url_ok")).drop("url_ok", "url_reasons")))
          case None => (df, None)
        }
      val (keyed, urlDeniedMain) = applyUrlGate(keyed0)
      // ONE allow-predicate (one FullRules broadcast) shared by the gate and
      // the denied audit branch — building it twice re-broadcast the rule
      // map every wave and re-ran the matcher over the frontier a second
      // time at metrics time
      val allowedPred = fullRules.map(fr => Robots.allowedColFull(spark, fr,
        col("host"), graft.functions.url_path(col("canonical_url"))))
      val gated = allowedPred match {
        case Some(p) => keyed.where(p)
        case None => Robots.filterAllowed(keyed, robots)
      }
      // refresh rows get their own keyed frame: they must NOT pass through
      // filterUnseen (being in the ledger is what makes them refreshes) but
      // robots still binds — a rule change since first crawl must deny the
      // re-fetch
      val refreshGated = refreshRows.map(r => applyUrlGate(
        Seen.withUrlKeys(r).select(keyed.columns.map(col): _*)))
      val refreshKeyed = refreshGated.map(_._1)
      val urlDeniedRows = (for {
        d <- urlDeniedMain if pages.nonEmpty
      } yield Seen.dropInWaveDuplicates(refreshGated.flatMap(_._2) match {
        case Some(rd) => d.unionByName(rd)
        case None => d
      }))
      // denied rows are audit surface, not garbage: with metrics on they are
      // written as status-451 rows next to the wave's fetch metrics below.
      // In-wave DEDUPED like the fetched side (two parents discovering the
      // same disallowed url is one denied url, not two); still re-reported
      // in LATER waves if rediscovered — denied urls deliberately stay out
      // of the seen ledger so a robots change lets them crawl.
      val deniedRows = allowedPred.filter(_ => pages.nonEmpty)
        .map { p =>
          val d = refreshKeyed match {
            case Some(rk) => keyed.where(!p).unionByName(rk.where(!p))
            case None => keyed.where(!p)
          }
          Seen.dropInWaveDuplicates(d)
        }
      // partitioned bloom pre-filter (north rule): the ledger's PERSISTED
      // per-bucket bank (committed waves only: wave-1), probes routed by
      // pmod(url_hash, buckets), positives verified exactly by the
      // bucket-aligned anti-join. It runs BEFORE the dedup shuffle: the
      // probe split reads its input twice, so the input must stay
      // scan-cheap, and the two stages commute (seen-status is constant per
      // url_hash group)
      val unseen = seen.filterUnseen(gated, wave - 1)
      // seed range from the raw wave input (cheap pruned scan) so neither
      // the domain cap's salted rank nor the scheduler re-executes the
      // dedup/anti-join upstream for stats
      val mm = frontier.agg(min(col("seed_idx")).as("lo"), max(col("seed_idx")).as("hi")).collect()(0)
      val range = if (mm.isNullAt(0)) None
        else Some((mm.getAs[Long]("lo"), mm.getAs[Long]("hi")))
      // domain-budget channel (`maxPerDomain`): per-SITE cap at
      // registrable-domain grain via the salted skew-proof rank — a
      // 10^7-subdomain farm shares ONE budget instead of dodging the
      // per-host cap. Applies to the DISCOVERY channel ONLY, after its
      // in-wave dedup (duplicates must not eat budget) and BEFORE the
      // refresh union: refresh rows are already in the seen ledger, so a
      // deferred refresh copy would just die in next wave's seen filter —
      // their rate is governed by the TTL, not the budget. The over-cap
      // remainder is DEFERRED, not dropped: it re-enters the next wave's
      // frontier through the normal path (never scheduled → the seen
      // filter passes it again).
      val unseenDeduped = Seen.dropInWaveDuplicates(
        unseen.select(keyed.columns.map(col): _*))
      val (unseenCapped, deferredRows) = maxPerDomain match {
        case Some(m) =>
          val (kept, deferred) = Scheduler.capPerDomain(
            unseenDeduped, m, urlCol = "canonical_url",
            orderCol = "seed_idx", orderKeyRange = range)
          (kept.select(keyed.columns.map(col): _*),
            Some(deferred.select(col("url"), col("seed_idx"))
              .localCheckpoint(true)))
        case None => (unseenDeduped, None)
      }
      // refresh rows join AFTER the seen filter and the cap (disjoint from
      // the discovery channel by construction: filterUnseen removes exactly
      // the committed urls staleFrontier emits, and staleFrontier is
      // url-distinct), so a url can never schedule twice in one wave
      val inWave = refreshKeyed match {
        case Some(rk) =>
          val rkGated = allowedPred match {
            case Some(p) => rk.where(p)
            case None => Robots.filterAllowed(rk, robots)
          }
          unseenCapped.unionByName(rkGated.select(keyed.columns.map(col): _*))
        case None => unseenCapped
      }
      // per-host politeness: robots Crawl-delay (whole seconds) when parsed
      // rules are present, the single global gap otherwise
      val robotsGap = fullRules.map(fr => Robots.gapColFull(spark, fr, col("host")))
      // adaptive backoff: prior wave's error rates → this wave's gaps,
      // joined by host (AQE sizes the join; the gaps frame is #hosts rows)
      val prevMetrics = s"$root/metrics/wave=${wave - 1}"
      val adaptiveGaps = adaptiveBackoff.flatMap { case (base, scale) =>
        if (wave > 0 && Fs.exists(prevMetrics))
          Some((base, Scheduler.adaptiveGaps(
            spark.read.parquet(prevMetrics)
              .select(graft.functions.host_of(col("canonical_url")).as("host"), col("status")),
            base = base, scale = scale)))
        else None
      }
      val toSchedule0 =
        inWave.select("url", "canonical_url", "url_hash", "host", "host_rev", "seed_idx")
      val (toSchedule, adaptiveGapCol) = adaptiveGaps match {
        case Some((base, g)) =>
          (toSchedule0.join(g.withColumnRenamed("gap_seconds", "_gap_adaptive"),
            Seq("host"), "left"),
            Some(coalesce(col("_gap_adaptive"), lit(base))))
        case None => (toSchedule0, adaptiveBackoff.map { case (base, _) => lit(base) })
      }
      val gapCol = (robotsGap, adaptiveGapCol) match {
        case (Some(r), Some(a)) => Some(greatest(r, a))
        case (r, a) => r.orElse(a)
      }
      // authority priority: the latest committed PageRank scores (if the
      // channel is on and a refresh has completed) join by url_hash and
      // pack into the salted scheduler's integral order key. The range
      // hint only applies to the plain seed_idx order — the packed key's
      // range is computed by the scheduler itself.
      val authority = edgesOf
        .filter(_ => Fs.exists(s"$root/rank/scores/_SUCCESS"))
        .map(_ => spark.read.parquet(s"$root/rank/scores")
          .select(col("node").as("url_hash"),
            floor(col("score") * 100.0d).cast("long").as("_prio")))
      // focus channel (consume side): the latest committed anchor-BM25
      // relevance scores, scaled into priorityOrderKey's clamp range.
      // With BOTH channels on, priorities ADD (both are "fetch me
      // sooner"; the order key clamps the sum).
      val focusScores = focusQueries
        .filter(_ => Fs.exists(s"$root/focus/scores/_SUCCESS"))
        .map(_ => spark.read.parquet(s"$root/focus/scores")
          .select(col("url_hash"), expr("focus_fp DIV 100000").as("_prio")))
      val prios = authority.toSeq ++ focusScores.toSeq
      val (toScheduleAuth, schedOrderCol, schedRange) =
        if (prios.isEmpty) (toSchedule, "seed_idx", range)
        else {
          val combined = prios.reduce(_.unionByName(_))
            .groupBy("url_hash").agg(sum(col("_prio")).as("_prio"))
          (toSchedule.join(combined, Seq("url_hash"), "left")
            .withColumn("order_key",
              Scheduler.priorityOrderKey(coalesce(col("_prio"), lit(0L)), col("seed_idx")))
            .drop("_prio"),
            "order_key", None)
        }
      val scheduled = Scheduler.schedule(
        toScheduleAuth, gapSeconds, salted = true, orderKeyRange = schedRange,
        gapCol = gapCol, orderCol = schedOrderCol)

      // wave data writes (overwrite → idempotent re-run of an uncommitted wave)
      scheduled
        .select("slot", "host_rev", "canonical_url", "url", "url_hash", "seed_idx", "host_pos")
        .write.mode(SaveMode.Overwrite).parquet(s"$root/schedule/wave=$wave")

      val next0 = discover(spark.read.parquet(s"$root/schedule/wave=$wave"))
      // deferred over-budget urls ride into the next wave's frontier
      val next = deferredRows match {
        case Some(d) => next0.select(col("url"), col("seed_idx"))
          .unionByName(d)
        case None => next0
      }
      next.write.mode(SaveMode.Overwrite).parquet(s"$root/next/wave=$wave")

      // cardinality channel (`hostCards`): one HLL sketch per host per wave
      // over the scheduled url hashes. Sketches are tiny (2^p bytes/host),
      // duplicate-insensitive (re-crawls via the refresh/retry channels add
      // nothing), and register-max merge is idempotent — so
      // [[hostCardinalities]] rolls ANY subset of waves up to exact-union
      // estimates without ever re-reading urls. Overwrite → idempotent.
      if (hostCards) {
        spark.read.parquet(s"$root/schedule/wave=$wave")
          .groupBy("host_rev")
          .agg(graft.functions.hll_agg(col("url_hash"), hostCardsP).as("sketch"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/cards/wave=$wave")
      }

      // authority channel: persist this wave's edges (canonical-hash longs,
      // 16 B/row — the PageRank wire format), refresh the scores every
      // rankEvery waves over ALL edges so far. Both writes are overwrite →
      // idempotent on crash-resume of an uncommitted wave; the scores table
      // is only trusted once its _SUCCESS exists.
      edgesOf.foreach { ef =>
        ef(spark.read.parquet(s"$root/schedule/wave=$wave"))
          .select(
            xxhash64(graft.functions.canonicalize_url(col("src"))).as("src"),
            xxhash64(graft.functions.canonicalize_url(col("dst"))).as("dst"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/edges/wave=$wave")
        if ((wave + 1) % math.max(1, rankEvery) == 0) {
          val dirs = (0 to wave).map(w => s"$root/edges/wave=$w").filter(Fs.exists)
          val edges = dirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
          Rank.pageRank(edges, iters = rankIters)
            .write.mode(SaveMode.Overwrite).parquet(s"$root/rank/scores")
        }
      }

      // DUST channel (learn side): every dustEvery waves, re-learn per-host
      // param-strip rules from everything fetched so far (committed
      // schedules ⋈ page bodies — digest evidence only accumulates where a
      // fetch actually happened). Overwrite → idempotent on crash-resume;
      // the apply side trusts the table only via its _SUCCESS.
      if (dustEvery > 0 && (wave + 1) % dustEvery == 0) pages.foreach { pg =>
        val dirs = (0 to wave).map(w => s"$root/schedule/wave=$w").filter(Fs.exists)
        val fetched = dirs
          .map(spark.read.parquet(_).select(col("canonical_url").as("url")))
          .reduce(_.unionByName(_))
          .distinct()
        val corpus = fetched.join(pg.select(col("url"), col("html")), "url")
        Dust.paramStripRules(corpus, minSupport = dustMinSupport)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/dust/rules")
      }

      // focus channel (learn side): every focusEvery waves, re-score link
      // TARGETS by anchor-text BM25 relevance to the topic queries over
      // everything fetched so far — the focused-crawl loop (Chakrabarti
      // '99): relevance evidence accumulates as coverage grows, and later
      // waves fetch on-topic urls first. Overwrite → idempotent;
      // _SUCCESS-fenced like the other learned channels.
      if (focusQueries.nonEmpty && (wave + 1) % math.max(1, focusEvery) == 0)
        for (fq <- focusQueries; pg <- pages) {
          val dirs = (0 to wave).map(w => s"$root/schedule/wave=$w").filter(Fs.exists)
          val fetched = dirs
            .map(spark.read.parquet(_).select(col("canonical_url").as("url")))
            .reduce(_.unionByName(_))
            .distinct()
          val corpus = fetched.join(pg.select(col("url"), col("html")), "url")
          Anchors.focusPriorities(corpus, fq, k = focusTopK)
            .groupBy("url").agg(sum(col("score_fp")).as("focus_fp"))
            .select(xxhash64(graft.functions.canonicalize_url(col("url")))
              .as("url_hash"), col("focus_fp"))
            .write.mode(SaveMode.Overwrite).parquet(s"$root/focus/scores")
        }

      // ledger + bloom state BEFORE the manifest (the commit point): a crash
      // here re-appends on resume — harmless, the wave column fences it.
      // The delta is the committed schedule's keys; the per-bucket delta
      // blooms ride the append as observed aggregates (coverage gaps and
      // big banks take the two-pass path — see Ledger.appendWithBlooms)
      seen.appendWithBlooms(spark.read.parquet(s"$root/schedule/wave=$wave")
        .select("url_hash", "canonical_url"), wave)

      // metrics + per-partition lineage from the COMMITTED files
      val sched = spark.read.parquet(s"$root/schedule/wave=$wave")
      val nScheduled = sched.count()
      val byPartition = sched.groupBy(spark_partition_id().as("partition_id"))
        .agg(count(lit(1)).as("rows"), countDistinct(col("host_rev")).as("hosts"))
        .orderBy(col("partition_id"))
        .collect()
        .map(r => s"""{"partition":${r.getInt(0)},"rows":${r.getLong(1)},"hosts":${r.getLong(2)}}""")
        .mkString("[", ",", "]")
      // per-URL fetch/parse metrics (north rule) — written next to the wave,
      // totals into the manifest
      val fetchStats = pages.map { pg =>
        // parseStats=false is the 100 TB setting: the downstream text
        // pipeline extracts anyway, so the metrics pass should not pay a
        // SECOND full extract+chunk of every fetched page just for counts
        val fetched = Discover.fetchParse(
          sched.select("url", "canonical_url", "url_hash", "seed_idx"), pg,
          urlCol = "canonical_url", parseStats = metricsParseStats)
        // robots-denied rows join the metrics table with status 451 — every
        // frontier row is accounted for, nothing vanishes at the gate
        def deniedAs(d: DataFrame, status: Int): DataFrame =
          d.select(col("url"), col("canonical_url"), col("url_hash"), col("seed_idx"),
            lit(status).cast("int").as("status"),
            lit(null).cast("long").as("n_chars"),
            lit(null).cast("long").as("n_chunks"))
        val withDenied = Seq(
          deniedRows.map(deniedAs(_, Discover.StatusRobotsDenied)),
          urlDeniedRows.map(deniedAs(_, Discover.StatusUrlPolicyDenied)))
          .flatten.foldLeft(fetched)(_.unionByName(_))
        withDenied.write.mode(SaveMode.Overwrite).parquet(s"$root/metrics/wave=$wave")
        val m = spark.read.parquet(s"$root/metrics/wave=$wave")
          .agg(sum(when(col("status") === 200, 1L).otherwise(0L)).as("fetched"),
            // disjoint taxonomy: denied rows were never fetch attempts, so
            // they must not ALSO count as missed (double-reporting)
            sum(when(col("status") =!= 200 &&
              col("status") =!= Discover.StatusRobotsDenied &&
              col("status") =!= Discover.StatusUrlPolicyDenied, 1L).otherwise(0L)).as("missed"),
            sum(when(col("status") === Discover.StatusRobotsDenied, 1L).otherwise(0L)).as("denied"),
            sum(when(col("status") === Discover.StatusUrlPolicyDenied, 1L).otherwise(0L)).as("url_denied"),
            coalesce(sum(col("n_chars")), lit(0L)).as("parse_chars"),
            coalesce(sum(col("n_chunks")), lit(0L)).as("parse_chunks"))
          .collect()(0)
        s""","fetched":${m.getAs[Long]("fetched")},"missed":${m.getAs[Long]("missed")},""" +
          s""""denied":${m.getAs[Long]("denied")},"url_denied":${m.getAs[Long]("url_denied")},""" +
          s""""parse_chars":${m.getAs[Long]("parse_chars")},"parse_chunks":${m.getAs[Long]("parse_chunks")}"""
      }.getOrElse("")
      val manifest =
        s"""{"wave":$wave,"scheduled":$nScheduled,"gap_seconds":$gapSeconds$fetchStats,
           |"lineage":$byPartition}""".stripMargin.replace("\n", "")
      Fs.writeString(manifestPath(root, wave), manifest)

      results += WaveResult(wave, nScheduled, nScheduled)
      seen.maybeCompact(wave)
      frontier = spark.read.parquet(s"$root/next/wave=$wave")
      wave += 1
      } // else (non-exhausted wave body)
    }
    results.toSeq
  }

  /** Merge the per-wave host sketches (`hostCards = true`) into one
    * estimated unique-url count per host — the crawl-budgeting view
    * ("which hosts expose the most URL space"), read incrementally:
    * register-max merge over the stored images, urls never re-read.
    * `est_urls` applies the linear-counting correction below saturation
    * (the spec regime); the raw sketch rides along for callers that keep
    * rolling up.
    */
  def hostCardinalities(spark: SparkSession, root: String): DataFrame = {
    val waves = committedWaves(root)
      .map(w => s"$root/cards/wave=$w").filter(Fs.exists)
    require(waves.nonEmpty, s"no cards/ tables under $root (hostCards off?)")
    waves.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      .groupBy("host_rev")
      .agg(graft.functions.hll_merge_agg(col("sketch")).as("sketch"))
      .withColumn("est_urls", graft.functions.hll_card_corrected(col("sketch")))
  }

  /** Crawl order across all committed waves — the fixture the north rule
    * checks against the reference's sequential order.
    */
  def crawlOrder(spark: SparkSession, root: String): DataFrame = {
    val waves = committedWaves(root)
    val frames = waves.map(w =>
      spark.read.parquet(s"$root/schedule/wave=$w").withColumn("wave", lit(w)))
    if (frames.isEmpty) return spark.emptyDataFrame
    frames.reduce(_.unionByName(_))
      .orderBy(col("wave"), col("slot"), col("host_rev"), col("seed_idx"))
  }
}

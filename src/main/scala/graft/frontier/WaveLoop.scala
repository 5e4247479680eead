package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.{Fs, Rounds}
import graft.sources.PageTable

/** Iterative-batch frontier loop with checkpoint/resume and per-partition
  * lineage (north rule: "checkpoint-resumable frontier state with
  * per-partition lineage and fetch/parse metrics").
  *
  * A steady PageTable wave with robots rules and edges runs 20 Spark jobs
  * when it is its own `run` call (WaveLoopSpec pins it; a [[Ledger]]
  * shared across calls saves its bank read), one pages join among them,
  * pruned to the page buckets observed on the schedule write;
  * its frontier is counted on the next/ write that made it, not re-read.
  * State crosses waves ONLY via storage (a 10^10-frontier
  * cannot live in driver memory), so every local checkpoint a wave makes
  * is released at its commit and executor storage does not grow with the
  * wave count ([[graft.core.Rounds.release]]). Every table the loop reads back is
  * written through and read with one declared schema (`next/` with the
  * schema of the frame just written), so no read pays a Parquet
  * schema-inference job:
  *
  *   root/
  *     schedule/wave=K/    [[ScheduleSchema]]
  *     next/wave=K/        url, seed_idx                (wave K+1 frontier)
  *     metrics/wave=K/     [[MetricsSchema]]            (with `pages`)
  *     seenstate/          the seen-set [[Ledger]] (default location)
  *     _manifest_K.json    commit marker: counts (from the wave's own work,
  *                         not re-reads; `next` = rows in next/wave=K) +
  *                         per-partition lineage
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

  /** Declared schemas of the loop's tables (see the class doc). */
  val ScheduleSchema: StructType = StructType.fromDDL("slot BIGINT, host_rev STRING, " +
    "canonical_url STRING, url STRING, url_hash BIGINT, seed_idx BIGINT, host_pos BIGINT")
  val MetricsSchema: StructType = StructType.fromDDL("url STRING, canonical_url STRING, " +
    "url_hash BIGINT, seed_idx BIGINT, status INT, n_chars BIGINT, n_chunks BIGINT")
  val EdgesSchema: StructType = StructType.fromDDL("src BIGINT, dst BIGINT")
  private val RetriedSchema = StructType.fromDDL("url_hash BIGINT")
  private val CardsSchema = StructType.fromDDL("host_rev STRING, sketch BINARY")

  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** A learned channel's table (rank scores, DUST rules, focus scores):
    * relearned in place every `every` waves while the channel is `on`, and
    * trusted only once its `_SUCCESS` exists.
    */
  private final class Learned(spark: SparkSession, dir: String, ddl: String,
      on: Boolean, every: Int) {
    private val schema = StructType.fromDDL(ddl)
    def read: Option[DataFrame] =
      if (on && Fs.exists(s"$dir/_SUCCESS")) Some(spark.read.schema(schema).parquet(dir)) else None
    def due(wave: Int): Boolean = on && (wave + 1) % math.max(1, every) == 0
    def write(df: DataFrame): Unit = conform(df, schema).write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The `"next"` row count of wave `wave`'s manifest (None in a manifest
    * written before the field existed).
    */
  private def nextRows(root: String, wave: Int): Option[Long] =
    """"next":(\d+)""".r.findFirstMatchIn(Fs.readString(manifestPath(root, wave)))
      .map(_.group(1).toLong)

  def readSchedule(spark: SparkSession, root: String, wave: Int): DataFrame =
    spark.read.schema(ScheduleSchema).parquet(s"$root/schedule/wave=$wave")

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
    *                    inject a synthetic link function. When it or
    *                    `edgesOf` is a [[Discover.PageLinks]] over this very
    *                    `pages` frame, next/, edges/ and metrics/ come from
    *                    one fetched frame (one pages join per wave); any
    *                    other function is called on the committed schedule.
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
    *                    default-parameter Ledger at `root/seenstate` for
    *                    this call (it reads the bank once); one instance
    *                    passed across calls reuses the bank it holds
    * @param fullRules   PARSED robots rules ([[Robots.parse]]): longest-match
    *                    Allow/Disallow gate AND per-host Crawl-delay — the
    *                    scheduler slots each host at its own gap. Denied rows
    *                    are not silently dropped: when metrics are on they
    *                    land in `metrics/wave=K` with status 451. None
    *                    allows every url.
    * @param refreshAfter when Some(n), every wave also
    *                    re-schedules committed urls whose LAST fetch is ≥ n
    *                    waves old ([[Ledger.staleFrontier]]): age-priority
    *                    order keys put refreshes after the wave's fresh
    *                    discoveries per host, oldest first. Refresh rows
    *                    BYPASS the seen-filter (they are in the ledger by
    *                    definition — that is what makes them refreshes) and
    *                    the domain cap, but pass the URL gate and robots
    *                    with the discovered rows (denials audited as 452/451);
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
   * wave. Production passes [[Discover.edgesFromPages]], which reads the
   * wave's fetched frame; tests inject synthetic edges.
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
      pages: Option[DataFrame] = None,
      ledger: Option[Ledger] = None,
      fullRules: Option[Robots.FullRules] = None,
      metricsParseStats: Boolean = true,
      adaptiveBackoff: Option[(Long, Int)] = None,
      refreshAfter: Option[Int] = None,
      edgesOf: Option[DataFrame => DataFrame] = None,
      rankEvery: Int = 4,
      urlGate: Option[(DataFrame, Seq[String])] = None,
      retryErrorsAfter: Option[Int] = None,
      dustEvery: Int = 0,
      dustMinSupport: Long = 2L,
      hostCards: Boolean = false,
      maxPerDomain: Option[Long] = None,
      focusQueries: Option[DataFrame] = None,
      focusEvery: Int = 4): Seq[WaveResult] = {

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
    // the frontier's row count, observed on the next/ write that made it
    // (carried across calls by the manifest); None counts it once
    var frontierRows: Option[Long] = if (startWave == 0) None else nextRows(root, startWave - 1)

    // the learned channels' tables (see the channel docs above)
    val rank = new Learned(spark, s"$root/rank/scores", "node BIGINT, score DOUBLE",
      edgesOf.nonEmpty, rankEvery)
    val dust = new Learned(spark, s"$root/dust/rules", "host STRING, param STRING, support BIGINT",
      dustEvery > 0, dustEvery)
    val focus = new Learned(spark, s"$root/focus/scores", "url_hash BIGINT, focus_fp BIGINT",
      focusQueries.nonEmpty, focusEvery)

    // the caller's frames: a wave releases no checkpoint these read
    val callerFrames = Seq(seeds) ++ pages ++ urlGate.map(_._1) ++ focusQueries
    var exhausted = false
    while (wave < maxWaves && !exhausted) {
      // the checkpoints this wave makes, released at its commit (class doc)
      val made = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def materialize(df: DataFrame): (DataFrame, Long) = {
        val (out, m) = Rounds.materialize(df)
        made += out
        (out, m.head)
      }
      val inputRows = frontierRows.getOrElse(frontier.agg(count(lit(1))).collect()(0).getLong(0))
      // refresh channel: committed urls due for a re-fetch this wave. The
      // staleness scan is one groupBy over the bucketed ledger — checkpoint
      // it so its count and the union below run it once.
      val refreshRows = refreshAfter.filter(_ => wave > 0)
        .map(n => materialize(seen.staleFrontier(wave - 1, n).select("url", "seed_idx")))
        .collect { case (r, rows) if rows > 0 => r }
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
      var errRows = 0L
      for {
        n <- retryErrorsAfter if wave >= n
        dir = s"$root/metrics/wave=${wave - n}" if Fs.exists(dir)
      } {
        val errs0 = spark.read.schema(MetricsSchema).parquet(dir)
          .where(col("status") === Discover.StatusMiss)
          .select("url", "seed_idx", "url_hash")
        val retriedDir = s"$root/retried"
        // materialize BEFORE mutating state: the anti-join reads retried/,
        // which the append below is about to grow under it
        val (errs, rows) = materialize(if (Fs.exists(retriedDir))
            errs0.join(spark.read.schema(RetriedSchema).parquet(retriedDir),
              Seq("url_hash"), "left_anti")
          else errs0)
        if (rows > 0) {
          seen.unsee(errs.select("url_hash"), wave - 1)
          conform(errs, RetriedSchema).write.mode(SaveMode.Append).parquet(retriedDir)
          frontier = frontier.unionByName(errs.select("url", "seed_idx"))
          errRows = rows
        }
      }
      if (inputRows + errRows == 0L && refreshRows.isEmpty) {
        exhausted = true
      } else {
      // DUST channel (apply side): strip learned content-irrelevant params
      // BEFORE url keys — aliases collapse to one canonical url and die in
      // the seen filter instead of burning fetch budget.
      val dustFrontier = dust.read.fold(frontier)(Dust.applyRules(frontier, _))
      // refresh rows join the frontier here under the `_refresh` tag: the
      // URL gate, robots and the denied audit below bind them like any
      // row (a rule change since first crawl must deny the re-fetch), but
      // they bypass the seen filter (being in the ledger is what makes them
      // refreshes) and the domain cap
      val keyed0 = Seen.withUrlKeys(refreshRows.foldLeft(dustFrontier.withColumn("_refresh", lit(false)))(
        (f, r) => f.unionByName(r.withColumn("_refresh", lit(true)))))
      // URL-policy gate FIRST (blocklist + path words, [[graft.url.UrlGate]]):
      // the cheapest signal runs before robots matching and the seen-set
      // machinery — a blocked fetch should cost nothing downstream. Denied
      // rows stay audit surface (status 452 in the wave metrics), mirroring
      // the robots gate; like robots denials they stay OUT of the seen
      // ledger, so a blocklist change lets them crawl later.
      val (keyed, urlDenied) = urlGate match {
        case Some((bl, words)) =>
          val g = graft.url.UrlGate.gate(keyed0, "canonical_url", bl, words)
          (g.where(col("url_ok")).drop("url_ok", "url_reasons"),
            Some(g.where(!col("url_ok")).drop("url_ok", "url_reasons")))
        case None => (keyed0, None)
      }
      // ONE allow-predicate (one FullRules broadcast) shared by the gate and
      // the denied audit branch — building it twice re-broadcast the rule
      // map every wave and re-ran the matcher over the frontier a second
      // time at metrics time
      val allowedPred = fullRules.map(Robots.allowedColFull(spark, _, col("canonical_url")))
      val gated = allowedPred.fold(keyed)(keyed.where(_))
      // denied rows are audit surface, not garbage: with metrics on they are
      // written as status-451/452 rows next to the wave's fetch metrics below.
      // In-wave DEDUPED like the fetched side (two parents discovering the
      // same disallowed url is one denied url, not two); still re-reported
      // in LATER waves if rediscovered — denied urls deliberately stay out
      // of the seen ledger so a robots change lets them crawl.
      val urlDeniedRows = urlDenied.filter(_ => pages.nonEmpty).map(Seen.dropInWaveDuplicates)
      val deniedRows = allowedPred.filter(_ => pages.nonEmpty)
        .map(p => Seen.dropInWaveDuplicates(keyed.where(!p)))
      // partitioned bloom pre-filter (north rule): the ledger's PERSISTED
      // per-bucket bank (committed waves only: wave-1), probes routed by
      // pmod(url_hash, buckets), positives verified exactly by the
      // bucket-aligned anti-join. It runs BEFORE the dedup shuffle: the
      // probe split reads its input twice, so the input must stay
      // scan-cheap, and the two stages commute (seen-status is constant per
      // url_hash group)
      val unseen = seen.filterUnseen(gated.where(!col("_refresh")), wave - 1)
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
            unseenDeduped, m, urlCol = "canonical_url", orderCol = "seed_idx")
          (kept.select(keyed.columns.map(col): _*),
            Some(deferred.select(col("url"), col("seed_idx"))
              .localCheckpoint(true)))
        case None => (unseenDeduped, None)
      }
      // refresh rows rejoin AFTER the seen filter and the cap (disjoint from
      // the discovery channel by construction: filterUnseen removes exactly
      // the committed urls staleFrontier emits, and staleFrontier is
      // url-distinct), so a url can never schedule twice in one wave
      val inWave = unseenCapped.unionByName(gated.where(col("_refresh")))
      // per-host politeness: robots Crawl-delay (whole seconds) when parsed
      // rules are present, the single global gap otherwise
      val robotsGap = fullRules.map(fr => Robots.gapColFull(spark, fr, col("host")))
      // adaptive backoff: prior wave's error rates → this wave's gaps,
      // joined by host (AQE sizes the join; the gaps frame is #hosts rows)
      val prevMetrics = s"$root/metrics/wave=${wave - 1}"
      val adaptiveGaps = adaptiveBackoff.flatMap { case (base, scale) =>
        if (wave > 0 && Fs.exists(prevMetrics))
          Some((base, Scheduler.adaptiveGaps(
            spark.read.schema(MetricsSchema).parquet(prevMetrics)
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
      // pack into the salted scheduler's integral order key.
      val authority = rank.read.map(_.select(col("node").as("url_hash"),
        floor(col("score") * 100.0d).cast("long").as("_prio")))
      // focus channel (consume side): the latest committed anchor-BM25
      // relevance scores, scaled into priorityOrderKey's clamp range.
      // With BOTH channels on, priorities ADD (both are "fetch me
      // sooner"; the order key clamps the sum).
      val focusScores = focus.read.map(_.select(col("url_hash"),
        expr("focus_fp DIV 100000").as("_prio")))
      val prios = authority.toSeq ++ focusScores.toSeq
      val (toScheduleAuth, schedOrderCol) =
        if (prios.isEmpty) (toSchedule, "seed_idx")
        else {
          val combined = prios.reduce(_.unionByName(_))
            .groupBy("url_hash").agg(sum(col("_prio")).as("_prio"))
          (toSchedule.join(combined, Seq("url_hash"), "left")
            .withColumn("order_key",
              Scheduler.priorityOrderKey(coalesce(col("_prio"), lit(0L)), col("seed_idx")))
            .drop("_prio"),
            "order_key")
        }
      // the salted rank observes its order key's range on its own input pass
      val scheduled = Scheduler.schedule(
        toScheduleAuth, gapSeconds, salted = true, gapCol = gapCol, orderCol = schedOrderCol)
      // the scheduler and the domain cap each freeze their input inside
      // their output; the scheduler's checkpoint hides the cap's from it
      made ++= Seq(scheduled, unseenCapped) ++ deferredRows

      // wave data writes (overwrite → idempotent re-run of an uncommitted wave).
      // The schedule's page buckets ride its write, so the fetch below
      // prunes the pages without a collect of its own
      val schedObs = Observation()
      val pageBucket = pages.flatMap(PageTable.bucketIn(_, col("canonical_url"), 64))
      val schedule = conform(scheduled, ScheduleSchema)
      pageBucket.fold(schedule)(b => schedule.observe(schedObs, collect_set(b).as("buckets")))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/schedule/wave=$wave")
      // an empty write surfaces no metrics: its bucket set is empty
      val schedBuckets = pageBucket.map(_ =>
        schedObs.get.get("buckets").fold(Seq.empty[Int])(_.asInstanceOf[Seq[Int]]))
      // every later step of the wave reads the COMMITTED schedule
      val sched = readSchedule(spark, root, wave)

      // the page side of the wave, built once: schedule ⋈ pages with status,
      // parse counts and, for PageLinks over this very `pages` (at the
      // metrics' bucket count), their gated link array; cached until commit
      def shares(p: Discover.PageLinks) = pages.exists(_ eq p.pages) && p.buckets == 64
      val linkGate = (discover +: edgesOf.toSeq).collectFirst {
        case p: Discover.PageLinks if shares(p) => p.respectNofollow
      }
      val fetched = pages.map(pg => Discover.fetched(
        sched.select("url", "canonical_url", "url_hash", "seed_idx"), pg, "canonical_url",
        parseStats = metricsParseStats, keyBuckets = schedBuckets)(
        h => linkGate.map(Discover.gatedLinks(h, _).as("links")).toSeq))
      val held = fetched.filter(_ => linkGate.nonEmpty).map(_.persist())
      def fromFetched(f: DataFrame => DataFrame): DataFrame = (f, fetched) match {
        case (p: Discover.PageLinks, Some(fr)) if shares(p) && linkGate.contains(p.respectNofollow) =>
          p.rows(fr)
        case _ => f(sched)
      }

      val next0 = fromFetched(discover)
      // deferred over-budget urls ride into the next wave's frontier
      val next = deferredRows match {
        case Some(d) => next0.select(col("url"), col("seed_idx"))
          .unionByName(d)
        case None => next0
      }
      // its row count is the next wave's frontier size (and the manifest's)
      val nextObs = Observation()
      next.observe(nextObs, count(lit(1)).as("rows"))
        .write.mode(SaveMode.Overwrite).parquet(s"$root/next/wave=$wave")
      val nNext = Rounds.observed(nextObs, "rows")

      // cardinality channel (`hostCards`): one HLL sketch per host per wave
      // over the scheduled url hashes. Sketches are tiny (2^11 bytes/host),
      // duplicate-insensitive (re-crawls via the refresh/retry channels add
      // nothing), and register-max merge is idempotent — so
      // [[hostCardinalities]] rolls ANY subset of waves up to exact-union
      // estimates without ever re-reading urls. Overwrite → idempotent.
      if (hostCards) {
        conform(sched.groupBy("host_rev")
          .agg(graft.functions.hll_agg(col("url_hash"), 11).as("sketch")), CardsSchema)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/cards/wave=$wave")
      }

      // authority channel: persist this wave's edges (canonical-hash longs,
      // 16 B/row — the PageRank wire format), refresh the scores every
      // rankEvery waves over ALL edges so far. Both writes are overwrite →
      // idempotent on crash-resume of an uncommitted wave; the scores table
      // is only trusted once its _SUCCESS exists.
      edgesOf.foreach { ef =>
        conform(fromFetched(ef).select(
            xxhash64(graft.functions.canonicalize_url(col("src"))).as("src"),
            xxhash64(graft.functions.canonicalize_url(col("dst"))).as("dst")), EdgesSchema)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/edges/wave=$wave")
        if (rank.due(wave)) {
          val edges = (0 to wave).map(w => s"$root/edges/wave=$w").filter(Fs.exists)
            .map(spark.read.schema(EdgesSchema).parquet(_)).reduce(_.unionByName(_))
          val scores = Rank.pageRank(edges, iters = 3)
          rank.write(scores)
          made += scores
        }
      }

      // ledger + bloom state BEFORE the manifest (the commit point): a crash
      // here re-appends on resume — harmless, the wave column fences it.
      // The delta is the committed schedule's keys; the delta bank rides
      // the append as an observed aggregate and is merged on the driver
      // with the bank the ledger holds (a coverage gap takes the two-pass
      // path — see Ledger.appendWithBlooms)
      seen.appendWithBlooms(sched.select("url_hash", "canonical_url"), wave)

      // per-partition lineage from the COMMITTED files, one pass over each
      // partition (no shuffle); its row counts sum to the scheduled total
      val lineage = sched.select("host_rev").rdd.mapPartitionsWithIndex { (pid, it) =>
        val hosts = scala.collection.mutable.HashSet.empty[String]
        var rows = 0L
        it.foreach { r => rows += 1; if (!r.isNullAt(0)) hosts += r.getString(0) }
        if (rows == 0) Iterator.empty else Iterator((pid, rows, hosts.size.toLong))
      }.collect().sortBy(_._1)
      val nScheduled = lineage.map(_._2).sum
      val byPartition = lineage
        .map { case (p, rows, hosts) => s"""{"partition":$p,"rows":$rows,"hosts":$hosts}""" }
        .mkString("[", ",", "]")
      // per-URL fetch/parse metrics (north rule) — written next to the wave;
      // the manifest's totals are observed on that write
      val fetchStats = fetched.map { f =>
        // robots-denied (451) and URL-policy-denied (452) rows join the
        // metrics table with null parse columns — every frontier row is
        // accounted for, nothing vanishes at a gate
        def deniedAs(status: Int)(d: DataFrame) = conform(d.withColumn("status", lit(status))
          .withColumn("n_chars", lit(null)).withColumn("n_chunks", lit(null)), MetricsSchema)
        val metrics = (deniedRows.map(deniedAs(Discover.StatusRobotsDenied)) ++
          urlDeniedRows.map(deniedAs(Discover.StatusUrlPolicyDenied)))
          .foldLeft(conform(f, MetricsSchema))(_.unionByName(_))
        val status = col("status")
        def rows(p: Column) = sum(when(p, 1L).otherwise(0L))
        val obs = Observation()
        metrics.observe(obs, rows(status === Discover.StatusOk).as("fetched"),
            // disjoint taxonomy: denied rows were never fetch attempts, so
            // they must not ALSO count as missed (double-reporting)
            rows(!status.isin(Discover.StatusOk, Discover.StatusRobotsDenied,
              Discover.StatusUrlPolicyDenied)).as("missed"),
            rows(status === Discover.StatusRobotsDenied).as("denied"),
            rows(status === Discover.StatusUrlPolicyDenied).as("url_denied"),
            sum(col("n_chars")).as("parse_chars"), sum(col("n_chunks")).as("parse_chunks"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/metrics/wave=$wave")
        Seq("fetched", "missed", "denied", "url_denied", "parse_chars", "parse_chunks")
          .map(k => s""","$k":${Rounds.observed(obs, k)}""").mkString
      }.getOrElse("")
      // The learned channels write after the metrics, whose denied rows still
      // read this wave's DUST rules. Their evidence is everything fetched so
      // far (committed schedules ⋈ page bodies): digest and anchor evidence
      // only accumulates where a fetch actually happened.
      def fetchedCorpus(pg: DataFrame): DataFrame =
        (0 to wave).filter(w => Fs.exists(s"$root/schedule/wave=$w"))
          .map(readSchedule(spark, root, _).select(col("canonical_url").as("url")))
          .reduce(_.unionByName(_))
          .distinct()
          .join(pg.select(col("url"), col("html")), "url")

      // DUST channel (learn side): every dustEvery waves, re-learn per-host
      // param-strip rules from everything fetched so far. Overwrite →
      // idempotent on crash-resume; the apply side trusts the table only
      // via its _SUCCESS.
      if (dust.due(wave)) pages.foreach { pg =>
        dust.write(Dust.paramStripRules(fetchedCorpus(pg), minSupport = dustMinSupport))
      }

      // focus channel (learn side): every focusEvery waves, re-score link
      // TARGETS by anchor-text BM25 relevance to the topic queries over
      // everything fetched so far — the focused-crawl loop (Chakrabarti
      // '99): relevance evidence accumulates as coverage grows, and later
      // waves fetch on-topic urls first. Overwrite → idempotent;
      // _SUCCESS-fenced like the other learned channels.
      if (focus.due(wave))
        for (fq <- focusQueries; pg <- pages) {
          focus.write(Anchors.focusPriorities(fetchedCorpus(pg), fq, k = 10000)
            .groupBy("url").agg(sum(col("score_fp")).as("focus_fp"))
            .select(xxhash64(graft.functions.canonicalize_url(col("url")))
              .as("url_hash"), col("focus_fp")))
        }

      val manifest =
        s"""{"wave":$wave,"scheduled":$nScheduled,"next":$nNext,"gap_seconds":$gapSeconds$fetchStats,
           |"lineage":$byPartition}""".stripMargin.replace("\n", "")
      Fs.writeString(manifestPath(root, wave), manifest)
      held.foreach(_.unpersist(blocking = true))

      results += WaveResult(wave, nScheduled, nScheduled)
      seen.maybeCompact(wave)
      frontier = spark.read.schema(next.schema).parquet(s"$root/next/wave=$wave")
      frontierRows = Some(nNext)
      wave += 1
      } // else (non-exhausted wave body)
      made.foreach(Rounds.release(_, keep = callerFrames))
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
    waves.map(spark.read.schema(CardsSchema).parquet(_)).reduce(_.unionByName(_))
      .groupBy("host_rev")
      .agg(graft.functions.hll_merge_agg(col("sketch")).as("sketch"))
      .withColumn("est_urls", graft.functions.hll_card_corrected(col("sketch")))
  }

  /** Crawl order across all committed waves — the fixture the north rule
    * checks against the reference's sequential order.
    */
  def crawlOrder(spark: SparkSession, root: String): DataFrame = {
    val frames = committedWaves(root).map(w =>
      readSchedule(spark, root, w).withColumn("wave", lit(w)))
    if (frames.isEmpty) return spark.emptyDataFrame
    frames.reduce(_.unionByName(_))
      .orderBy(col("wave"), col("slot"), col("host_rev"), col("seed_idx"))
  }
}

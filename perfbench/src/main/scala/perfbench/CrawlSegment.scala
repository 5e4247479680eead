package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.core.Fs
import graft.frontier.{Discover, Ledger, Robots, Seen, WaveLoop}
import graft.sources.PageTable
import Workload.{force, per, treeFiles}

/** The write side of the seen-set: `WaveLoop.run` with a `Ledger` over a
  * seeded, linked PageTable, one wave per call (`maxWaves = w + 1` resumes
  * from the committed manifest). Every wave schedules exactly `perLevel`
  * URLs; a quarter of the hosts have robots.txt Disallow and Crawl-delay
  * rules.
  *
  * It runs inside page_results' traced run, the one with room for it (it
  * is too slow to time as a workload of its own within the benchmark's run
  * budget, see README.md):
  * the waves are traced with call-site attribution, and after each wave
  * `Discover`, `PageTable.fetch` and the robots gate are called on that
  * wave's committed data.
  */
final class CrawlSegment(spark: SparkSession, seed: Long, work: String, state: String) extends Segment {
  private def sc = spark.sparkContext
  private def group = Some(sc)
  val spec = CrawlSpec(seed, perLevel = 10000, levels = 3)
  private var pages: DataFrame = _
  private var seeds: DataFrame = _
  private var rules: Robots.FullRules = _
  private val root = s"$work/crawl"
  private val ledger = new Ledger(spark, s"$root/seenstate", buckets = 64,
    expectedPerBucket = (spec.levels.toLong * spec.perLevel * 4) / 64 + 1024)

  def stage(dir: String): Unit = {
    val s = spec
    Fs.deleteTree(dir)
    val pageRows = spark.range(0, s.levels.toLong * s.perLevel, 1, sc.defaultParallelism * 2)
      .mapPartitions(it => it.map { id =>
        val l = (id / s.perLevel).toInt; val j = id % s.perLevel
        (Crawl.url(s, l, j), Crawl.html(s, l, j).getBytes("UTF-8"))
      })(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("url", "html")
      .select(col("url"), to_timestamp(lit("2024-01-01 00:00:00")).as("warc_ts"), col("html"),
        lit(null).cast("string").as("text"), lit("en").as("lang"))
    PageTable.commit(spark, s"$dir/pages", pageRows)
    pages = PageTable.read(spark, s"$dir/pages")
    spark.range(0, s.perLevel, 1, sc.defaultParallelism)
      .mapPartitions(it => it.map(j => (Crawl.url(s, 0, j), j.longValue)))(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("url", "seed_idx")
      .write.parquet(s"$dir/seeds")
    seeds = spark.read.parquet(s"$dir/seeds")
    rules = Robots.parseAll((0 until s.hosts).filter(Crawl.hasRobots(s, _))
      .map(h => Hosts.name(h) -> Crawl.robotsTxt(s, h)).toMap)
  }

  private val waveS = mutable.ArrayBuffer.empty[Double]
  private val waveJobs = mutable.ArrayBuffer.empty[Long]
  private val waveStages = mutable.ArrayBuffer.empty[Long]
  private var links, linkPages, robotsRows, robotsAllowed, fetched, attempts = 0L
  private var checks = CheckResult(0L, Map.empty[String, Long])

  /** Run every level as one traced wave each, with the layer calls after
    * each wave; every wave is checked against the generator.
    */
  def run(t: Tracer, m: Meter): Unit = for (w <- 0 until spec.levels) {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    val j0 = m.jobsStarted; val s0 = m.stagesCompleted
    val t0 = System.nanoTime()
    val r = t.span("waveloop") {
      WaveLoop.run(spark, root, seeds, Discover.fromPages(pages), maxWaves = w + 1,
        pages = Some(pages), ledger = Some(ledger), fullRules = Some(rules))
    }
    waveS += (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    waveJobs += m.jobsStarted - j0; waveStages += m.stagesCompleted - s0
    val scheduled = r.map(_.scheduled).sum
    checks = checks ++ checkWave(w) ++
      CheckResult(1L, Map("wave_count" -> (if (scheduled == spec.perLevel) 0L else 1L)).filter(_._2 > 0))

    val sched = spark.read.parquet(s"$root/schedule/wave=$w")
    val found = t.span("discover", group) { force(Discover.fromPages(pages)(sched)) }
    links += found.items; linkPages += scheduled
    t.span("pagetable", group) { force(PageTable.fetch(sched.select(col("canonical_url").as("url")), pages)) }
    val keyed = Seen.withUrlKeys(spark.read.parquet(s"$root/next/wave=$w")).localCheckpoint(true)
    val allowed = t.span("robots", group) { force(Robots.filterAllowedFull(keyed, rules)) }
    robotsRows += keyed.count(); robotsAllowed += allowed.items
    val st = spark.read.parquet(s"$root/metrics/wave=$w")
      .agg(sum(when(col("status") === Discover.StatusOk, 1L).otherwise(0L)),
        sum(when(col("status").isin(Discover.StatusOk, Discover.StatusMiss, Discover.StatusParseError), 1L)
          .otherwise(0L)))
      .collect()(0)
    fetched += st.getLong(0); attempts += st.getLong(1)
  }

  private def checkWave(w: Int): CheckResult = {
    val rows = spark.read.parquet(s"$root/schedule/wave=$w")
      .select("canonical_url", "host_rev", "seed_idx", "slot").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    Checks.crawlWave(spec, w, rows.toSeq)
  }

  /** Wave checks, plus: the crawl order must be identical in every run of
    * this seed and build (the first run's digest is kept under `state`).
    */
  def result(): CheckResult = {
    val rows = WaveLoop.crawlOrder(spark, root)
      .select("wave", "slot", "host_rev", "seed_idx", "canonical_url").collect()
    val h = rows.foldLeft(17L)((acc, r) => Rng.mix(acc ^ r.mkString("|").hashCode.toLong))
    val digest = f"${rows.length}%d:$h%016x"
    val file = new java.io.File(state, s"crawl_order_${seed}_${spec.perLevel}_${spec.levels}.txt")
    val same =
      if (file.isFile) new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8") == digest
      else {
        file.getParentFile.mkdirs()
        java.nio.file.Files.write(file.toPath, digest.getBytes("UTF-8"))
        true
      }
    checks ++ CheckResult(1L, Map("crawl_order_digest" -> (if (same) 0L else 1L)).filter(_._2 > 0))
  }

  def layers(t: Tracer, m: Meter): Map[String, Double] = {
    val g = m.snapshot(sc)
    val self = t.selfSeconds
    def tot(k: String) = g.getOrElse(k, new Totals)
    val waves = waveJobs.size
    val (ledgerFiles, ledgerBytes) = treeFiles(ledger.root)
    val (_, seenBytes) = treeFiles(s"$root/seen")
    val manifests = new java.io.File(root).listFiles().filter(_.getName.startsWith("_manifest_")).map(_.length).sum
    val steady = waveS.drop(1).toSeq
    Map(
      "waveloop.wave_s_p50" -> Main.median(steady),
      "waveloop.wall_s" -> per(self.getOrElse("waveloop", 0.0), waves),
      "waveloop.self_busy_s" -> per(tot("site:WaveLoop").busyS, waves),
      "waveloop.jobs_per_wave" -> per(waveJobs.sum, waves),
      "waveloop.stages_per_wave" -> per(waveStages.sum, waves),
      "waveloop.urls_per_s" -> per(spec.perLevel * steady.size, steady.sum),
      "ledger.append_s" -> per(tot("site:Ledger").jobWallMs / 1e3, waves),
      "ledger.bytes_written" -> per(tot("site:Ledger").outputBytes, waves),
      "ledger.state_bytes_per_url" -> per(ledgerBytes + seenBytes + manifests, waves.toLong * spec.perLevel),
      "ledger.crawl_files" -> ledgerFiles.toDouble,
      "discover.wall_s" -> per(self.getOrElse("discover", 0.0), waves),
      "discover.busy_s" -> per(tot("discover").busyS, waves),
      "discover.links_per_page" -> per(links, linkPages),
      "discover.fetch_hit_share" -> per(fetched, attempts),
      "robots.wall_s" -> per(self.getOrElse("robots", 0.0), waves),
      "robots.denied_share" -> per(robotsRows - robotsAllowed, robotsRows),
      "pagetable.fetch_s" -> per(self.getOrElse("pagetable", 0.0), waves),
      "pagetable.read_bytes" -> per(tot("pagetable").inputBytes, waves))
  }

  def inputProps: Seq[(String, String)] = {
    val htmlBytes = (0 until math.min(spec.perLevel, 500)).map(j => Crawl.html(spec, 1, j).getBytes("UTF-8").length)
    val robotsHosts = (0 until spec.hosts).count(Crawl.hasRobots(spec, _))
    Seq("pages" -> Json.num(spec.levels.toLong * spec.perLevel), "urls_per_wave" -> Json.num(spec.perLevel.toLong),
      "waves" -> Json.num(spec.levels.toLong), "hosts" -> Json.num(spec.hosts.toLong),
      "host_zipf_s" -> Json.num(spec.zipfS), "top_host_share" -> Json.num(spec.zipf.topShare),
      "robots_host_share" -> Json.num(robotsHosts.toDouble / spec.hosts),
      "mean_html_bytes" -> Json.num(htmlBytes.sum.toDouble / htmlBytes.size))
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.core.Fs
import graft.frontier.{Ledger, Scheduler, Seen}
import graft.pipeline.TextPipeline

/** What one timed call did: items through it and an order-independent
  * checksum of its output (0 where the output is checked otherwise).
  */
final case class CallOut(items: Long, checksum: Long)

/** One workload: staging, a warm-up call whose output is fully checked, the
  * timed call, post-run checks, and the traced layer-by-layer run.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String, val state: String) {
  /** What an item is: "urls" or "pages". */
  def itemName: String
  /** Generate and stage the inputs into `dir` (called several times). */
  def stage(dir: String): Unit
  /** One call, output fully checked against the generator's truth; also
    * returns the output checksum every timed call must reproduce.
    */
  def warmup(): (CheckResult, Long)
  def call(): CallOut
  /** One traced iteration; returns its items. */
  def tracedCall(t: Tracer, m: Meter): Long
  /** Per-layer metrics from the traced iterations. */
  def layers(t: Tracer, m: Meter, iterations: Int): Map[String, Double]
  def inputProps: Seq[(String, String)]
  /** Order-independent digest of the staged inputs. */
  def inputDigest: String
  /** Findings the checks report apart from failures (known open defects). */
  def knownDefects: Map[String, Long] = Map.empty
  /** Layers measured only in this workload's traced run. */
  def segment: Segment

  protected def sc = spark.sparkContext
  protected def group = Some(sc)
}

/** Layers too slow to time as a workload of their own within the run
  * budget; they run, traced and checked, inside one workload's traced run.
  */
trait Segment {
  def stage(dir: String): Unit
  def run(t: Tracer, m: Meter): Unit
  def result(): CheckResult
  def layers(t: Tracer, m: Meter): Map[String, Double]
  def inputProps: Seq[(String, String)]
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: String, state: String): Workload = name match {
    case "frontier_probe" => new FrontierProbe(spark, seed, work, state)
    case "page_results" => new PageResults(spark, seed, work, state)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
  val names = Seq("frontier_probe", "page_results")

  /** Row count and an order-independent checksum over every column — a bare
    * count would let Catalyst prune the computed columns away.
    */
  def force(df: DataFrame): CallOut = {
    val h = pmod(xxhash64(struct(df.columns.map(col): _*)), lit(1000000007L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).collect()(0)
    CallOut(r.getLong(0), r.getLong(1))
  }

  def digest(dfs: DataFrame*): String =
    dfs.map(df => { val o = force(df); f"${o.items}%d:${o.checksum}%d" }).mkString("/")

  /** Every physical node of an executed plan, through adaptive query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(walk)
    }
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    walk(p).filter(seen.add)
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  def treeFiles(dir: String): (Long, Long) = {
    val root = new java.io.File(dir)
    if (!root.exists) return (0L, 0L)
    val files = Iterator.iterate(Seq(root))(_.flatMap(f => Option(f.listFiles).map(_.toSeq).getOrElse(Nil)))
      .takeWhile(_.nonEmpty).flatten.filter(f => f.isFile && !f.getName.endsWith(".crc"))
      .toSeq
    (files.size.toLong, files.map(_.length).sum)
  }

  def per(x: Double, n: Double): Double = if (n == 0) 0.0 else x / n
}

import Workload._

// ---------------------------------------------------------------- frontier_probe

final class FrontierProbe(spark: SparkSession, seed: Long, work: String, state: String)
    extends Workload(spark, seed, work, state) {
  val itemName = "urls"
  val spec = FrontierSpec(seed, n = 500000)
  private var cands: DataFrame = _
  private var ledger: Ledger = _
  private var stageDir: String = _
  private var idn = 0L

  def stage(dir: String): Unit = {
    val s = spec
    val n = s.n
    Fs.deleteTree(dir)
    spark.range(0, n, 1, sc.defaultParallelism * 2)
      .select(col("id").as("seed_idx"))
      .mapPartitions(it => it.map(r => (Frontier.candidateUrl(s, r.getLong(0)), r.getLong(0))))(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong))
      .toDF("url", "seed_idx")
      .write.parquet(s"$dir/candidates")
    spark.range(0, s.ledgerKeys, 1, sc.defaultParallelism * 2)
      .mapPartitions(it => it.map(k => Frontier.canonical(s, k)))(org.apache.spark.sql.Encoders.STRING)
      .toDF("url")
      .write.parquet(s"$dir/seen_urls")
    val l = new Ledger(spark, s"$dir/ledger", buckets = 64,
      expectedPerBucket = s.ledgerKeys / 64 + 1024)
    l.appendWithBlooms(Seen.withUrlKeys(spark.read.parquet(s"$dir/seen_urls"))
      .select("url_hash", "canonical_url"), 0)
    cands = spark.read.parquet(s"$dir/candidates")
    ledger = l
    stageDir = dir
  }

  private def pipeline(): DataFrame =
    Scheduler.schedule(Seen.dropInWaveDuplicates(
      ledger.filterUnseen(Seen.withUrlKeys(cands), 0)), salted = true)

  def warmup(): (CheckResult, Long) = {
    val sched = pipeline().select("seed_idx", "host_rev", "slot").localCheckpoint(true)
    val ref = force(sched).checksum
    val rows = sched.collect().map(r => SchedRow(r.getLong(0), r.getString(1), r.getLong(2)))
    val res = Checks.frontier(spec, rows.toSeq)
    idn = res.idnSplitKeys
    (res.checks, ref)
  }

  override def knownDefects: Map[String, Long] = Map("idn_split_keys" -> idn)
  def segment: Segment = new NearDupSegment(spark, seed)

  def call(): CallOut =
    CallOut(spec.n.toLong, force(pipeline().select("seed_idx", "host_rev", "slot")).checksum)

  // the last traced iteration's staged frames, counted after the iterations
  private var keyed, probe, unseen, dedup: DataFrame = _

  def tracedCall(t: Tracer, m: Meter): Long = {
    keyed = t.span("url", group) { Seen.withUrlKeys(cands).localCheckpoint(true) }
    probe = ledger.filterUnseen(keyed, 0)
    unseen = t.span("ledger.probe", group) { probe.localCheckpoint(true) }
    dedup = t.span("seen.dedup", group) { Seen.dropInWaveDuplicates(unseen).localCheckpoint(true) }
    t.span("scheduler", group) { force(Scheduler.schedule(dedup, salted = true)) }
    spec.n.toLong
  }

  def layers(t: Tracer, m: Meter, it: Int): Map[String, Double] = {
    val g = m.snapshot(sc)
    val self = t.selfSeconds
    def tot(k: String) = g.getOrElse(k, new Totals)
    val keyedRows = keyed.count()
    val identityRows = keyed.where(col("canonical_url") === col("url")).count()
    val unseenRows = unseen.count()
    val dedupRows = dedup.count()
    val nodes = planNodes(probe.queryExecution.executedPlan)
    // bloom probe filters; the negatives branch filters on NOT(probe),
    // possibly inside a conjunction
    val probeFilters = nodes.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.find(_.isInstanceOf[graft.functions.BloomBankProbe]).nonEmpty => f
    }
    val negated = (f: org.apache.spark.sql.execution.FilterExec) => f.condition.find {
      case org.apache.spark.sql.catalyst.expressions.Not(c) =>
        c.find(_.isInstanceOf[graft.functions.BloomBankProbe]).nonEmpty
      case _ => false
    }.nonEmpty
    // the optimizer also copies the probe onto the ledger's scan side; count
    // only the candidate side (the staged frame, no file scan below it)
    val onLedger = (f: org.apache.spark.sql.execution.FilterExec) =>
      f.collectLeaves().exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    val positives = probeFilters.filterNot(f => negated(f) || onLedger(f))
      .map(metric(_, "numOutputRows")).sum
    val antiOut = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => metric(j, "numOutputRows")
    }.sum
    val (ledgerFiles, ledgerBytes) = treeFiles(ledger.root)
    val (_, bankBytes) = treeFiles(s"${ledger.root}/blooms")
    val truePositives = positives - antiOut
    Map(
      "url.wall_s" -> per(self.getOrElse("url", 0.0), it),
      "url.busy_s" -> per(tot("url").busyS, it),
      "url.rows" -> keyedRows.toDouble,
      "url.identity_share" -> per(identityRows, keyedRows),
      "url.idn_split_keys" -> idn.toDouble,
      "seen.wall_s" -> per(self.getOrElse("ledger.probe", 0.0) + self.getOrElse("seen.dedup", 0.0), it),
      "seen.busy_s" -> per(tot("ledger.probe").busyS + tot("seen.dedup").busyS, it),
      "seen.bloom_positive_share" -> per(positives, keyedRows),
      "seen.bloom_false_positive_share" -> per(antiOut, keyedRows - truePositives),
      "seen.antijoin_shuffle_bytes" -> per(tot("ledger.probe").shuffleWriteBytes, it),
      "seen.inwave_dup_share" -> per(unseenRows - dedupRows, unseenRows),
      "scheduler.wall_s" -> per(self.getOrElse("scheduler", 0.0), it),
      "scheduler.busy_s" -> per(tot("scheduler").busyS, it),
      "scheduler.shuffle_write_bytes" -> per(tot("scheduler").shuffleWriteBytes, it),
      "scheduler.shuffle_blocks" -> per(tot("scheduler").shuffleBlocks, it),
      "scheduler.task_skew" -> tot("scheduler").taskSkew,
      "scheduler.fetch_wait_s" -> per(tot("scheduler").fetchWaitMs / 1e3, it),
      "ledger.probe_s" -> per(self.getOrElse("ledger.probe", 0.0), it),
      "ledger.bank_bytes" -> bankBytes.toDouble,
      "ledger.files_written" -> ledgerFiles.toDouble,
      "ledger.staged_bytes_per_key" -> per(ledgerBytes, spec.ledgerKeys))
  }

  def inputProps: Seq[(String, String)] = {
    val sample = math.min(spec.n, 200000)
    val kinds = (0L until sample).map(i => Frontier.keyAndKind(spec, i))
    val kindShare = kinds.groupBy(_._2).map { case (k, v) => Frontier.KindNames(k) -> v.size.toDouble / sample }
    Seq("candidates" -> Json.num(spec.n.toLong), "ledger_keys" -> Json.num(spec.ledgerKeys),
      "new_key_space" -> Json.num(spec.newKeys), "hosts" -> Json.num(spec.hosts.toLong),
      "host_zipf_s" -> Json.num(spec.zipfS), "top_host_share" -> Json.num(spec.zipf.topShare),
      "seen_share" -> Json.num(kinds.count(_._1 < spec.ledgerKeys).toDouble / sample),
      "variant_share_by_kind" -> Json.obj(kindShare.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
  }

  def inputDigest: String = digest(cands, spark.read.parquet(s"$stageDir/seen_urls"))
}

// ---------------------------------------------------------------- page_results

final class PageResults(spark: SparkSession, seed: Long, work: String, state: String)
    extends Workload(spark, seed, work, state) {
  val itemName = "pages"
  val n = 40000
  private var pages: DataFrame = _

  private def host(i: Long) = s"src${i % 50}.test"

  def stage(dir: String): Unit = {
    val sd = seed
    Fs.deleteTree(dir)
    spark.range(0, n, 1, sc.defaultParallelism * 2)
      .mapPartitions(it => it.map { i =>
        val p = graft.fixtures.PageGen.page(i, s"src${i % 50}.test", sd)
        (p.url, p.html)
      })(org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY))
      .toDF("url", "html")
      .write.parquet(s"$dir/pages")
    pages = spark.read.parquet(s"$dir/pages")
  }

  def warmup(): (CheckResult, Long) = {
    val out = TextPipeline.results(pages).localCheckpoint(true)
    val ref = force(out).checksum
    val got = out.select(col("url"), encode(col("full_text"), "UTF-8"), size(col("chunks")),
        size(col("embeddings")), coalesce(array_min(transform(col("embeddings"), e => size(e))), lit(0)))
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getInt(2), r.getInt(3), r.getInt(4)))
    val expected = (0L until n).map(i => graft.fixtures.PageGen.page(i, host(i), seed))
      .map(p => p.url -> p.text).toMap
    (Checks.pageResults(expected, got.toSeq), ref)
  }

  def call(): CallOut = force(TextPipeline.results(pages))
  def segment: Segment = new CrawlSegment(spark, seed, work, state)

  private var chunked: DataFrame = _
  def tracedCall(t: Tracer, m: Meter): Long = {
    val ex = t.span("text.extract", group) { TextPipeline.withExtractedText(pages).localCheckpoint(true) }
    chunked = t.span("text.chunk", group) { TextPipeline.chunks(ex).localCheckpoint(true) }
    t.span("embed", group) { force(TextPipeline.withEmbeddings(chunked)) }
    n.toLong
  }

  def layers(t: Tracer, m: Meter, it: Int): Map[String, Double] = {
    val g = m.snapshot(sc)
    def tot(k: String) = g.getOrElse(k, new Totals)
    val chunkRows = chunked.count()
    val htmlBytes = pages.agg(sum(length(col("html")))).collect()(0).getLong(0)
    val extractBusy = per(tot("text.extract").busyS, it)
    Map(
      "text.extract_busy_s" -> extractBusy,
      "text.extract_mb_per_busy_s" -> per(htmlBytes / 1e6, extractBusy),
      "text.chunk_busy_s" -> per(tot("text.chunk").busyS, it),
      "text.chunks_per_page" -> per(chunkRows, n),
      "embed.busy_s" -> per(tot("embed").busyS, it))
  }

  def inputProps: Seq[(String, String)] = {
    val sample = (0L until math.min(n, 2000)).map(i => graft.fixtures.PageGen.page(i, host(i), seed))
    val bytes = sample.map(_.html.length)
    Seq("pages" -> Json.num(n.toLong), "hosts" -> Json.num(50L),
      "mean_html_bytes" -> Json.num(bytes.sum.toDouble / bytes.size),
      "non_ascii_page_share" -> Json.num(sample.count(p => p.text.exists(_ > 0x7f)).toDouble / sample.size))
  }

  def inputDigest: String = digest(pages)
}

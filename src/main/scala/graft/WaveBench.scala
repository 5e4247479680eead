package graft

import org.apache.spark.sql.functions._
import graft.frontier.{Discover, Ledger, WaveLoop}

/** End-to-end crawl-loop benchmark: the INTEGRATED engine (link discovery
  * over real html, seen-ledger dedup with incremental blooms, politeness
  * schedule, per-wave fetch/parse metrics, checkpoint manifests), not just
  * the schedule kernel that `graft.Bench` times. Reports urls scheduled/sec
  * across `SPARK_GRAFT_WAVES` waves over a synthetic linked PageTable.
  *
  * Prints ONE JSON line like the other bench mains.
  */
object WaveBench {

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val nPages = sys.env.getOrElse("SPARK_GRAFT_WAVE_PAGES", "400000").toInt
    val nSeeds = sys.env.getOrElse("SPARK_GRAFT_WAVE_SEEDS", "150000").toInt
    val waves = sys.env.getOrElse("SPARK_GRAFT_WAVES", "3").toInt
    val hosts = 997
    val spark = BenchQueries.session(cpus)
    val tmp = spark.conf.get("spark.local.dir", "/tmp").split(',').head.trim

    // linked corpus: page i (host i%hosts) links to i+hosts (same host →
    // fetchable) and 2i mod nPages (fetchable iff host matches) — a mix of
    // hits and 404-analogue misses, like a real crawl
    val urlOf = (id: org.apache.spark.sql.Column) =>
      concat(lit("http://h"), pmod(id, lit(hosts)).cast("string"),
        lit(".test/p/"), id.cast("string"))
    val pagesDf = spark.range(nPages).select(
      urlOf(col("id")).as("url"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("warc_ts"),
      encode(concat(
        lit("<html><body><h1>Page "), col("id").cast("string"),
        lit("</h1><p>body text for page "), col("id").cast("string"),
        lit(" with some words</p><a href=\"/p/"), (col("id") + hosts).cast("string"),
        lit("\">n</a><a href=\"/p/"), pmod(col("id") * 2, lit(nPages)).cast("string"),
        lit("\">d</a></body></html>")), "UTF-8").as("html"),
      lit(null).cast("string").as("text"),
      lit("en").as("lang"))
    val ptRoot = s"$tmp/wavebench-pages"
    Ledger.deleteTree(ptRoot)
    graft.sources.PageTable.commit(spark, ptRoot, pagesDf)
    val pages = graft.sources.PageTable.read(spark, ptRoot)

    val seeds = spark.range(nSeeds).select(
      urlOf(col("id")).as("url"), col("id").as("seed_idx"))

    val root = s"$tmp/wavebench-run"
    Ledger.deleteTree(root)
    val t0 = System.nanoTime()
    val results = WaveLoop.run(spark, root, seeds,
      Discover.fromPages(pages), maxWaves = waves,
      pages = Some(pages),
      ledger = Some(new Ledger(spark, s"$root/seenstate", buckets = 64,
        expectedPerBucket = (nPages.toLong * 4) / 64 + 1024)))
    val sec = (System.nanoTime() - t0) / 1e9
    val total = results.map(_.scheduled).sum
    val perWave = results.map(r => s"""{"wave":${r.wave},"scheduled":${r.scheduled}}""")
      .mkString("[", ",", "]")
    println(s"""{"metric":"wave_loop_urls_per_sec","value":${total / sec},"unit":"urls/sec",""" +
      s""""total_urls":$total,"sec":$sec,"waves":$waves,"per_wave":$perWave,""" +
      s""""pages":$nPages,"seeds":$nSeeds,"cpus":$cpus}""")
    spark.stop()
  }
}

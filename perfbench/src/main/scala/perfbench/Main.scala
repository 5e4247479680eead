package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --state DIR` (`work` is emptied after the run; `state` keeps
  * what later runs of the same build compare against).
  *
  * One `local[nproc]` session, one driver thread submitting one job at a
  * time (closed loop). Prints `PERFBENCH_DETAIL {…}` lines and, last,
  * `PERFBENCH_RESULT {…}`; `run.py` turns these into the benchmark's output.
  */
object Main {
  val StageReps = 3
  /** Timed calls a run makes at least, however long they last. */
  val MinSamples = 5
  /** Traced iterations, and untraced calls to compare them with, at least. */
  val MinTraced = 2

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    require(Workload.names.contains(workload), s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.BenchQueries.session(cores.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val w = Workload(workload, spark, seed, work, a("state"))

    // set-up: stage the inputs several times (median reported; once in a
    // traced run, which does not report setup_s), then one warm-up call
    // whose output is fully checked and one untimed run of the timed call,
    // so that the first timed sample does not pay for its plan's code
    // generation
    val stageS = (0 until (if (trace) 1 else StageReps)).map { r =>
      val s0 = System.nanoTime()
      w.stage(s"$work/inputs-$r")
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    val (warm, ref) = w.warmup()
    val primed = w.call().checksum
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(stageS) + warmS
    val digest = w.inputDigest

    val samples = mutable.ArrayBuffer.empty[(Long, Double, Long)]
    var tracedMetrics = Map.empty[String, Double]
    var tracer: Tracer = null
    var segChecks = CheckResult(0L, Map.empty[String, Long])
    var segProps = Seq.empty[(String, String)]
    if (!trace) {
      timedLoop(seconds, MinSamples, w, samples)
    } else {
      // tracing overhead: the same calls untraced, then traced
      timedLoop(seconds / 2, MinTraced, w, samples)
      meter.reset(spark.sparkContext)
      tracer = new Tracer(s"$workload-$seed")
      val tStart = System.nanoTime()
      var items = 0L
      var it = 0
      while (it < MinTraced || (System.nanoTime() - tStart) / 1e9 < seconds / 2) {
        items += tracer.span("iteration") { w.tracedCall(tracer, meter) }
        it += 1
      }
      val iterWall = tracer.all.filter(_.name == "iteration").map(_.durS).sum
      tracedMetrics = Layers.spark(meter.snapshot(spark.sparkContext), meter, it, cores, iterWall) ++
        w.layers(tracer, meter, it)
      val untracedRate = rate(samples.toSeq)
      val tracedRate = Workload.per(items, iterWall)
      tracedMetrics ++= Map(
        "trace.untraced_items_per_s" -> untracedRate,
        "trace.traced_items_per_s" -> tracedRate,
        "trace.overhead_share" -> (if (untracedRate > 0) 1.0 - tracedRate / untracedRate else 0.0),
        "trace.iterations" -> it.toDouble)
      val seg = w.segment
      seg.stage(s"$work/segment-inputs")
      meter.reset(spark.sparkContext)
      seg.run(tracer, meter)
      tracedMetrics ++= seg.layers(tracer, meter)
      segChecks = seg.result()
      segProps = seg.inputProps
    }
    // every timed call must reproduce the checked warm-up output
    val sums = primed +: samples.map(_._3).toSeq
    val post = CheckResult(sums.size.toLong,
      Map("output_changed" -> sums.count(_ != ref).toLong).filter(_._2 > 0)) ++ segChecks
    val failedTasks = meter.failedTasks(spark.sparkContext)
    val checks = warm ++ post
    // peak RSS follows the collector's heap sizing, too loose run to run for
    // an end-to-end bound (see README): per-layer
    val peakRssMb = peakRss()
    tracedMetrics += "jvm.peak_rss_mb" -> peakRssMb

    val callS = samples.map(_._2).toSeq
    val attempted = checks.checked + samples.size + 1 + meter.tasksSeen
    val failed = checks.failed + failedTasks
    val e2e = Seq(
      "throughput_per_s" -> (rate(samples.toSeq), "1/s"),
      "call_s_p50" -> (median(callS), "s"),
      "setup_s" -> (setupS, "s"))
    val named = s"${w.itemName}_per_s"
    val conf = spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.")).sortBy(_._1)
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    emit("PERFBENCH_DETAIL", Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed), "trace" -> (if (trace) "true" else "false"),
      "cores" -> Json.num(cores.toLong), "loop" -> Json.str("closed, one driver submitting one job at a time"),
      named -> Json.obj(Seq("value" -> Json.num(rate(samples.toSeq)), "unit" -> Json.str(s"${w.itemName}/s"))),
      "call_s_p50" ->
        Json.obj(Seq("value" -> Json.num(median(callS)), "unit" -> Json.str("s"),
          "samples" -> Json.num(callS.size.toLong),
          "quartiles" -> Json.arr(quartiles(callS).map(Json.num)))),
      "peak_rss_mb" -> Json.obj(Seq("value" -> Json.num(peakRssMb), "unit" -> Json.str("MB"))),
      "failed_share" -> Json.obj(Seq("value" -> Json.num(Workload.per(failed, attempted)),
        "unit" -> Json.str("share"), "failed" -> Json.num(failed), "attempted" -> Json.num(attempted))),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS), "stage_s" -> Json.arr(stageS.map(Json.num)),
        "warmup_s" -> Json.num(warmS))),
      "checks" -> checks.json,
      "failed_tasks" -> Json.num(failedTasks),
      "known_defects" -> Json.obj(w.knownDefects.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "input_digest" -> Json.str(digest),
      "inputs" -> Json.obj(w.inputProps ++
        (if (segProps.isEmpty) Nil else Seq("traced_segment" -> Json.obj(segProps)))),
      "effective_conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "jvm_options" -> Json.arr(jvm.map(Json.str)))))
    if (tracer != null) {
      emit("PERFBENCH_SPANS", tracer.json)
      // task totals per attribution key (job group or call-site file)
      emit("PERFBENCH_DETAIL", Json.obj(Seq("by_key" -> Json.obj(
        meter.snapshot(spark.sparkContext).toSeq.sortBy(-_._2.runMs).map { case (k, t) =>
          k -> Json.obj(Seq("jobs" -> Json.num(t.jobs), "stages" -> Json.num(t.stages),
            "tasks" -> Json.num(t.tasks), "busy_s" -> Json.num(t.busyS),
            "job_wall_s" -> Json.num(t.jobWallMs / 1e3), "cpu_s" -> Json.num(t.cpuNs / 1e9)))
        }))))
    }
    val metrics =
      if (!trace) e2e.map { case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
      else Layers.catalog.map { case (k, u, _) =>
        k -> Json.obj(Seq("value" -> Json.num(tracedMetrics.getOrElse(k, 0.0)), "unit" -> Json.str(u)))
      }
    emit("PERFBENCH_RESULT", Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted), "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics))))
    spark.stop()
  }

  private def timedLoop(seconds: Double, minSamples: Int, w: Workload,
      samples: mutable.ArrayBuffer[(Long, Double, Long)]): Unit = {
    val start = System.nanoTime()
    // at least minSamples timed calls, then until the time is up
    while (samples.size < minSamples || (System.nanoTime() - start) / 1e9 < seconds) {
      val c0 = System.nanoTime()
      val out = w.call()
      samples += ((out.items, (System.nanoTime() - c0) / 1e9, out.checksum))
    }
  }

  /** Items per second of the median call (per-call rates, median). */
  def rate(samples: Seq[(Long, Double, Long)]): Double =
    median(samples.map { case (n, s, _) => n / s })

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def quartiles(xs: Seq[Double]): Seq[Double] = {
    if (xs.size < 2) return xs
    val s = xs.sorted
    def at(p: Double) = { val x = p * (s.size - 1); val lo = x.toInt; val hi = math.min(lo + 1, s.size - 1); s(lo) + (s(hi) - s(lo)) * (x - lo) }
    Seq(at(0.25), at(0.5), at(0.75))
  }

  private def peakRss(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def emit(tag: String, json: String): Unit = { println(s"$tag $json"); Console.out.flush() }
}

/** The per-layer metric catalogue (name, unit, better) and the engine-wide
  * `spark.*` metrics. Every traced run prints every metric; a layer the
  * workload does not exercise reads 0.
  */
object Layers {
  val catalog: Seq[(String, String, String)] = Seq(
    ("url.wall_s", "s", "lower"), ("url.busy_s", "s", "lower"), ("url.rows", "count", "higher"),
    ("url.identity_share", "share", "higher"), ("url.idn_split_keys", "count", "lower"),
    ("seen.wall_s", "s", "lower"), ("seen.busy_s", "s", "lower"),
    ("seen.bloom_positive_share", "share", "lower"), ("seen.bloom_false_positive_share", "share", "lower"),
    ("seen.antijoin_shuffle_bytes", "bytes", "lower"), ("seen.inwave_dup_share", "share", "lower"),
    ("scheduler.wall_s", "s", "lower"), ("scheduler.busy_s", "s", "lower"),
    ("scheduler.shuffle_write_bytes", "bytes", "lower"), ("scheduler.shuffle_blocks", "count", "lower"),
    ("scheduler.task_skew", "ratio", "lower"), ("scheduler.fetch_wait_s", "s", "lower"),
    ("ledger.append_s", "s", "lower"), ("ledger.probe_s", "s", "lower"),
    ("ledger.bytes_written", "bytes", "lower"), ("ledger.files_written", "count", "lower"),
    ("ledger.bank_bytes", "bytes", "lower"), ("ledger.state_bytes_per_url", "bytes", "lower"),
    ("ledger.crawl_files", "count", "lower"), ("ledger.staged_bytes_per_key", "bytes", "lower"),
    ("discover.wall_s", "s", "lower"), ("discover.busy_s", "s", "lower"),
    ("discover.links_per_page", "count", "higher"), ("discover.fetch_hit_share", "share", "higher"),
    ("robots.wall_s", "s", "lower"), ("robots.denied_share", "share", "lower"),
    ("pagetable.fetch_s", "s", "lower"), ("pagetable.read_bytes", "bytes", "lower"),
    ("waveloop.wave_s_p50", "s", "lower"), ("waveloop.urls_per_s", "1/s", "higher"),
    ("waveloop.wall_s", "s", "lower"), ("waveloop.self_busy_s", "s", "lower"),
    ("waveloop.jobs_per_wave", "count", "lower"), ("waveloop.stages_per_wave", "count", "lower"),
    ("text.extract_busy_s", "s", "lower"), ("text.extract_mb_per_busy_s", "MB/s", "higher"),
    ("text.chunk_busy_s", "s", "lower"), ("text.chunks_per_page", "count", "higher"),
    ("embed.busy_s", "s", "lower"),
    ("dedup.docs_per_s", "1/s", "higher"), ("dedup.jobs_per_pass", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"), ("dedup.verified_pairs", "count", "higher"),
    ("dedup.candidate_yield", "share", "higher"), ("dedup.minhash_s", "s", "lower"),
    ("dedup.semantic_s", "s", "lower"), ("dedup.components_s", "s", "lower"),
    ("dedup.keep_best_s", "s", "lower"), ("dedup.components_rounds", "count", "lower"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"), ("spark.tasks", "count", "lower"),
    ("spark.task_busy_s", "s", "lower"), ("spark.cpu_s", "s", "lower"), ("spark.gc_share", "share", "lower"),
    ("spark.idle_core_share", "share", "lower"), ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_write_s", "s", "lower"),
    ("spark.shuffle_blocks", "count", "lower"), ("spark.spill_bytes", "bytes", "lower"),
    ("spark.fetch_wait_s", "s", "lower"), ("spark.failed_tasks", "count", "lower"),
    ("spark.cached_blocks_max", "count", "lower"), ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.untraced_items_per_s", "1/s", "higher"), ("trace.traced_items_per_s", "1/s", "higher"),
    ("trace.overhead_share", "share", "lower"), ("trace.iterations", "count", "higher"))

  /** Engine-wide totals of the traced iterations, per iteration. */
  def spark(g: Map[String, Totals], m: Meter, it: Int, cores: Int, wallS: Double): Map[String, Double] = {
    val t = Totals.sum(g.values)
    val per = (x: Double) => Workload.per(x, it)
    Map(
      "spark.jobs" -> per(t.jobs), "spark.stages" -> per(t.stages), "spark.tasks" -> per(t.tasks),
      "spark.task_busy_s" -> per(t.busyS), "spark.cpu_s" -> per(t.cpuNs / 1e9),
      "spark.gc_share" -> Workload.per(t.gcMs, t.runMs),
      "spark.idle_core_share" -> (1.0 - Workload.per(t.busyS, wallS * cores)),
      "spark.shuffle_write_bytes" -> per(t.shuffleWriteBytes), "spark.shuffle_write_s" -> per(t.shuffleWriteNs / 1e9),
      "spark.shuffle_blocks" -> per(t.shuffleBlocks),
      "spark.spill_bytes" -> per(t.spillBytes), "spark.fetch_wait_s" -> per(t.fetchWaitMs / 1e3),
      "spark.failed_tasks" -> t.failedTasks.toDouble, "spark.cached_blocks_max" -> m.cachedBlocksMax.toDouble)
  }
}

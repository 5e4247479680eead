package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.frontier.{Discover, Ledger, Seen, WaveLoop}

/** The persistent bucketed seen-ledger: exactness, bloom incrementality,
  * compaction, resume, and the no-ledger-shuffle plan property.
  */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** recordsRead across all tasks between reset() and snapshot() — the
    * incrementality witness (bloom maintenance must read deltas, not the
    * full ledger).
    */
  private class ReadListener extends org.apache.spark.scheduler.SparkListener {
    private val records = new java.util.concurrent.atomic.AtomicLong(0)
    override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    def reset(): Unit = records.set(0)
    def snapshot(): Long = { org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext); records.get }
  }

  private def keyed(ids: Range) =
    Seen.withUrlKeys(ids.map(i => (s"http://h${i % 7}.test/$i", i.toLong)).toDF("url", "seed_idx"))

  test("multi-wave append + filterUnseen is EXACT; blooms update incrementally") {
    val root = java.nio.file.Files.createTempDirectory("ledger").toString
    val l = new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096)
    val listener = new ReadListener
    spark.sparkContext.addSparkListener(listener)
    try {
      // waves of 1000 urls each, 10% overlap with the previous wave
      var expectedSeen = Set.empty[Long]
      for (w <- 0 until 5) {
        val lo = w * 900 // 10% of each wave re-appears
        val cands = keyed(lo until (lo + 1000))
        val unseen = l.filterUnseen(cands, w - 1)
          .select("seed_idx").as[Long].collect().toSet
        val want = (lo until (lo + 1000)).map(_.toLong).toSet -- expectedSeen
        assert(unseen == want, s"wave $w exactness")
        val delta = keyed(lo until (lo + 1000))
          .where(col("seed_idx").isin(unseen.toSeq: _*))
          .select("url_hash", "canonical_url")
        l.append(delta, w)
        listener.reset()
        l.writeBlooms(delta, w)
        val read = listener.snapshot()
        // bloom maintenance reads the delta (≤1000 rows) + previous bank
        // (≤ buckets sketch rows), never the whole ledger
        assert(read <= 1000 + 2 * 8 + 64,
          s"wave $w bloom update read $read records — not incremental")
        expectedSeen ++= want
      }
      // final bank has no false negatives: every ledger key probes positive
      val table = l.committedFrame(4)
      assert(table.count() == expectedSeen.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("anti-join against the ledger shuffles ONLY the candidate side") {
    val root = java.nio.file.Files.createTempDirectory("ledgerplan").toString
    val l = new Ledger(spark, root, buckets = 8, maxBankBytes = 0) // force fallback path
    l.append(keyed(0 until 2000).select("url_hash", "canonical_url"), 0)
    l.writeBlooms(keyed(0 until 2000).select("url_hash", "canonical_url"), 0)
    // disable broadcast so the join planning shows the bucketed-scan property
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val filtered = l.filterUnseen(keyed(1000 until 3000), 0)
      filtered.count()
      val shuffles = filtered.queryExecution.executedPlan.collect {
        case _: ShuffleExchangeExec => 1 }.sum
      assert(shuffles <= 1,
        s"ledger side re-shuffled:\n${filtered.queryExecution.executedPlan}")
      assert(filtered.select("seed_idx").as[Long].collect().toSet ==
        (2000L until 3000L).toSet)
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("20-wave crawl through the ledger: exact dedup, compaction, flat deltas") {
    // link fn: i → i+37 and i+71, bounded; every wave re-offers seed 0
    def discover(sched: org.apache.spark.sql.DataFrame) = {
      val children = sched.select(col("seed_idx")).where(col("seed_idx") < 1500)
        .select(explode(array(col("seed_idx") + 37, col("seed_idx") + 71)).as("n"))
        .select(concat(lit("http://h"), (col("n") % 7).cast("string"),
          lit(".test/"), col("n").cast("string")).as("url"), col("n").as("seed_idx"))
      children.unionByName(
        Seq(("http://h0.test/0", 99999L)).toDF("url", "seed_idx"))
    }
    val seeds = (0 until 30).map(i => (s"http://h${i % 7}.test/$i", i.toLong)).toDF("url", "seed_idx")
    val root = java.nio.file.Files.createTempDirectory("ledgerwaves").toString
    val l = new Ledger(spark, root + "/seenstate", buckets = 8, compactEvery = 6)
    val res = WaveLoop.run(spark, root, seeds, discover, maxWaves = 20, ledger = Some(l))
    assert(res.length == 20)
    // never schedules a url twice across 20 waves
    val urls = WaveLoop.crawlOrder(spark, root).select("canonical_url").as[String].collect()
    assert(urls.length == urls.distinct.length)
    // compaction ran (version advanced) and the ledger still matches the
    // union of all schedule deltas exactly
    assert(l.currentVersion >= 2, s"version ${l.currentVersion}")
    val ledgerKeys = l.committedFrame(19).select("canonical_url").as[String].collect().toSet
    assert(ledgerKeys == urls.toSet)
    // file count stays bounded: post-compaction the current table dir holds
    // one file per bucket per un-compacted wave + compacted base, not
    // 20 waves x 8 buckets
    val dir = java.nio.file.Paths.get(root + "/seenstate", s"ledger_v${l.currentVersion}")
    val files = {
      val st = java.nio.file.Files.walk(dir)
      try st.filter(p => p.toString.endsWith(".parquet")).count()
      finally st.close()
    }
    assert(files <= 8 * (20 - 18 + 1) + 8, s"compaction left $files files")
  }

  test("re-opening a ledger with different sketch params fails fast") {
    val root = java.nio.file.Files.createTempDirectory("ledgerparams").toString
    new Ledger(spark, root, buckets = 8).ensure()
    // silent mismatch would mis-route bloom probes → false negatives
    val e = intercept[IllegalArgumentException] {
      new Ledger(spark, root, buckets = 16).ensure()
    }
    assert(e.getMessage.contains("sketch parameters"))
    // same params re-open fine
    new Ledger(spark, root, buckets = 8).ensure()
  }

  test("missing bloom state degrades to the exact anti-join, not pass-through") {
    val root = java.nio.file.Files.createTempDirectory("ledgernobloom").toString
    val l = new Ledger(spark, root, buckets = 4)
    l.append(keyed(0 until 500).select("url_hash", "canonical_url"), 0)
    // no writeBlooms call — e.g. success markers disabled or bank lost
    val unseen = l.filterUnseen(keyed(0 until 1000), 0)
      .select("seed_idx").as[Long].collect().toSet
    assert(unseen == (500L until 1000L).toSet)
  }

  test("stale bloom bank (bank wave < table wave) still dedups exactly") {
    // wave 0 appended WITH blooms, wave 1 appended WITHOUT (crashed bloom
    // write / caller skipped writeBlooms). Wave-1 keys probe bloom-negative;
    // the ADVICE guard must route negatives through the uncovered-slice
    // anti-join instead of passing them straight through (silent lost dedup).
    val root = java.nio.file.Files.createTempDirectory("ledgerstale").toString
    val l = new Ledger(spark, root, buckets = 4)
    val w0 = keyed(0 until 400).select("url_hash", "canonical_url")
    l.append(w0, 0)
    l.writeBlooms(w0, 0)
    l.append(keyed(400 until 800).select("url_hash", "canonical_url"), 1)
    val unseen = l.filterUnseen(keyed(0 until 1200), 1)
      .select("seed_idx").as[Long].collect().toSet
    assert(unseen == (800L until 1200L).toSet,
      "keys from the bloom-uncovered wave leaked through")
  }

  test("bloom write after a coverage gap heals the gap (no silent lost dedup)") {
    // wave 0 with blooms; wave 1 appended WITHOUT blooms (crash); wave 2
    // appended WITH blooms. The wave-2 bank is labeled w=2, which
    // filterUnseen(…, 2) trusts completely (w >= upToWave skips the
    // uncovered-slice anti-join) — so writeBlooms(2) MUST fold the
    // uncovered wave-1 keys into the bank, else they probe bloom-negative
    // and re-crawl.
    val root = java.nio.file.Files.createTempDirectory("ledgergap").toString
    val l = new Ledger(spark, root, buckets = 4)
    val w0 = keyed(0 until 300).select("url_hash", "canonical_url")
    val w1 = keyed(300 until 600).select("url_hash", "canonical_url")
    val w2 = keyed(600 until 900).select("url_hash", "canonical_url")
    l.append(w0, 0); l.writeBlooms(w0, 0)
    l.append(w1, 1) // no writeBlooms — the gap
    l.append(w2, 2); l.writeBlooms(w2, 2)
    val unseen = l.filterUnseen(keyed(0 until 1200), 2)
      .select("seed_idx").as[Long].collect().toSet
    assert(unseen == (900L until 1200L).toSet,
      "keys from the bloom-gap wave leaked through a bank labeled past them")
  }

  test("bloom GC keeps only the current bank and one predecessor") {
    val root = java.nio.file.Files.createTempDirectory("ledgergc").toString
    val l = new Ledger(spark, root, buckets = 4)
    for (w <- 0 until 5) {
      val delta = keyed(w * 100 until (w + 1) * 100).select("url_hash", "canonical_url")
      l.append(delta, w)
      l.writeBlooms(delta, w)
    }
    val dirs = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(root, "blooms"))
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        st.forEach(p => b += p.getFileName.toString)
        b.toSet
      } finally st.close()
    }
    assert(dirs == Set("wave=3", "wave=4"), dirs.toString)
    // and the surviving bank still pre-filters exactly
    val unseen = l.filterUnseen(keyed(0 until 600), 4)
      .select("seed_idx").as[Long].collect().toSet
    assert(unseen == (500L until 600L).toSet)
  }

  // Crash states at the commit points of wave 1, in write order. The first
  // two lie before the ledger append; they are built by stopping a run at
  // wave 0 and putting back the wave-1 files a full run writes, which is
  // exactly what a crash there leaves on disk. The last two delete the
  // later artifacts of a completed wave 1.
  private val resumeWave = 1
  private val crashStates: Seq[(String, Boolean, Seq[String])] = Seq(
    // (name, wave 1 completed before the crash, artifacts to copy/delete)
    ("after the schedule write", false, Seq(s"schedule/wave=$resumeWave")),
    ("after the next write", false,
      Seq(s"schedule/wave=$resumeWave", s"next/wave=$resumeWave")),
    ("after the ledger append (bank absent)", true,
      Seq(s"seenstate/blooms/wave=$resumeWave")),
    ("between append and manifest", true, Nil))

  private def resumeDiscover(sched: org.apache.spark.sql.DataFrame) =
    sched.select(col("seed_idx")).where(col("seed_idx") < 300)
      .select(concat(lit("http://h"), ((col("seed_idx") + 13) % 5).cast("string"),
        lit(".test/"), (col("seed_idx") + 13).cast("string")).as("url"),
        (col("seed_idx") + 13).as("seed_idx"))

  private def resumeSeeds =
    (0 until 15).map(i => (s"http://h${i % 5}.test/$i", i.toLong)).toDF("url", "seed_idx")

  private def crawlLedger(root: String) = new Ledger(spark, root + "/seenstate", buckets = 4)

  private def runLedgerCrawl(root: String, waves: Int, ledger: Option[Ledger] = None): Unit =
    WaveLoop.run(spark, root, resumeSeeds, resumeDiscover, maxWaves = waves,
      ledger = Some(ledger.getOrElse(crawlLedger(root))))

  private lazy val completedCrawl: String = {
    val root = java.nio.file.Files.createTempDirectory("ledgerA").toString
    runLedgerCrawl(root, 3)
    root
  }

  // each crash state twice: resumed by a FRESH Ledger instance (a new
  // session), and by the one instance that ran before the crash, whose
  // held bank must not outlive the files the crash removed
  for ((state, waveDone, artifacts) <- crashStates; shared <- Seq(false, true))
    test(s"ledger-mode resume${if (shared) ", one shared ledger" else ""}: crash $state is exact") {
      val rootA = completedCrawl
      val rootB = java.nio.file.Files.createTempDirectory("ledgerB").toString
      val ledger = if (shared) Some(crawlLedger(rootB)) else None
      if (waveDone) {
        runLedgerCrawl(rootB, resumeWave + 1, ledger)
        artifacts.foreach(a => graft.core.Fs.deleteTree(s"$rootB/$a"))
        java.nio.file.Files.delete(
          java.nio.file.Paths.get(WaveLoop.manifestPath(rootB, resumeWave)))
      } else {
        runLedgerCrawl(rootB, resumeWave, ledger)
        for (a <- artifacts)
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(s"$rootA/$a"), new java.io.File(s"$rootB/$a"))
      }
      assert(WaveLoop.committedWaves(rootB) == (0 until resumeWave))
      // resume on the same root: wave 1 re-runs against committed state
      // only; a duplicate append is fenced by the wave column
      runLedgerCrawl(rootB, 3, ledger)
      def order(root: String) = WaveLoop.crawlOrder(spark, root)
        .select("wave", "slot", "host_rev", "canonical_url").collect().toSeq
      def committed(root: String) = crawlLedger(root)
        .committedFrame(2).select("url_hash", "canonical_url", "wave")
        .distinct().collect().map(_.toString).sorted.toSeq
      assert(order(rootA) == order(rootB))
      assert(committed(rootA) == committed(rootB))
    }

  test("appendWithBlooms ≡ append+writeBlooms: same answers, same bank bytes") {
    val rootA = java.nio.file.Files.createTempDirectory("ledgerObsA").toString
    val rootB = java.nio.file.Files.createTempDirectory("ledgerObsB").toString
    val a = new Ledger(spark, rootA, buckets = 8, expectedPerBucket = 4096)
    val b = new Ledger(spark, rootB, buckets = 8, expectedPerBucket = 4096)
    for (w <- 0 until 3) {
      val delta = keyed((w * 700) until (w * 700 + 900))
        .select("url_hash", "canonical_url")
      a.append(delta, w); a.writeBlooms(delta, w)
      b.appendWithBlooms(delta, w)
      // bank parity: every bucket present in the two-pass bank is
      // byte-identical in the fused bank (bloom OR is bitwise-commutative,
      // so driver-side merge == distributed merge exactly); the fused bank
      // may additionally carry empty blooms for untouched buckets, which
      // probe false just like an absent row
      val bankA = spark.read.parquet(s"$rootA/blooms/wave=$w").collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Array[Byte]]("bloom")).toMap
      val bankB = spark.read.parquet(s"$rootB/blooms/wave=$w").collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Array[Byte]]("bloom")).toMap
      for ((bk, bytes) <- bankA)
        assert(java.util.Arrays.equals(bytes, bankB(bk)), s"wave $w bucket $bk")
    }
    val probe = keyed(0 until 3000)
    val ua = a.filterUnseen(probe, 2).select("seed_idx").as[Long].collect().toSet
    val ub = b.filterUnseen(probe, 2).select("seed_idx").as[Long].collect().toSet
    assert(ua == ub && ub == (2300L until 3000L).toSet)
  }

  test("unsee makes keys re-crawlable; a later re-append re-seens them") {
    val root = java.nio.file.Files.createTempDirectory("unsee").toString
    val l = new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096)
    val all = keyed(0 until 1000)
    l.append(all.select("url_hash", "canonical_url"), 0)
    l.writeBlooms(all.select("url_hash", "canonical_url"), 0)
    assert(l.filterUnseen(all, 0).count() == 0, "everything seen")
    // purge the 0-mod-5 slice (e.g. fetch errors queued for retry): the
    // bank still probes them positive, the tombstones let them through
    val purge = all.where(col("seed_idx") % 5 === 0)
    l.unsee(purge.select("url_hash"), 0)
    val back = l.filterUnseen(all, 0).select("seed_idx").as[Long].collect().toSet
    assert(back == (0L until 1000L).filter(_ % 5 == 0).toSet, "unseen set")
    // idempotent: unseeing again changes nothing
    l.unsee(purge.select("url_hash"), 0)
    assert(l.filterUnseen(all, 0).count() == 200, "idempotence")
    // retry crawl re-appends at wave 1 → seen again (t_wave fencing)
    l.append(purge.select("url_hash", "canonical_url"), 1)
    l.writeBlooms(purge.select("url_hash", "canonical_url"), 1)
    assert(l.filterUnseen(all, 1).count() == 0, "re-seen after re-append")
  }

  test("unsee on a lagging bank stays exact") {
    val root = java.nio.file.Files.createTempDirectory("unseelag").toString
    val l = new Ledger(spark, root, buckets = 4, expectedPerBucket = 4096)
    val w0 = keyed(0 until 500)
    val w1 = keyed(500 until 900)
    l.append(w0.select("url_hash", "canonical_url"), 0)
    l.writeBlooms(w0.select("url_hash", "canonical_url"), 0)
    l.append(w1.select("url_hash", "canonical_url"), 1) // NO writeBlooms: bank lags
    // unsee a mix of wave-0 (bank-covered) and wave-1 (uncovered) keys:
    // covered keys probe positive and pass the anti-join, uncovered ones
    // probe negative and pass the uncovered-slice check; every other key
    // of both waves stays filtered
    val purge = keyed(400 until 600)
    l.unsee(purge.select("url_hash"), 1)
    val back = l.filterUnseen(keyed(0 until 900), 1)
      .select("seed_idx").as[Long].collect().toSet
    assert(back == (400L until 600L).toSet)
  }

  test("legacy 3-field params file opens as bloom, rejects cuckoo") {
    def rootWith(params: String): String = {
      val root = java.nio.file.Files.createTempDirectory("ledgerparams").toString
      graft.core.Fs.writeString(s"$root/_ledger_params", params)
      root
    }
    def open(root: String): Unit =
      new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096).ensure()
    // roots from before the sketch field, and bloom roots that carry it
    open(rootWith("""{"buckets":8,"expectedPerBucket":4096,"fpp":0.01}"""))
    open(rootWith("""{"buckets":8,"expectedPerBucket":4096,"fpp":0.01,"sketch":"bloom"}"""))
    // a cuckoo bank would be probed as blooms: refuse, naming the sketch
    val e = intercept[IllegalArgumentException] {
      open(rootWith("""{"buckets":8,"expectedPerBucket":4096,"fpp":0.01,"sketch":"cuckoo"}"""))
    }
    assert(e.getMessage.contains("cuckoo"), e.getMessage)
  }

  test("unsee of never-seen keys is a no-op: no tombstones, no bank rewrite") {
    val root = java.nio.file.Files.createTempDirectory("unseenoop").toString
    val l = new Ledger(spark, root, buckets = 4, expectedPerBucket = 4096)
    l.append(keyed(0 until 100).select("url_hash", "canonical_url"), 0)
    l.writeBlooms(keyed(0 until 100).select("url_hash", "canonical_url"), 0)
    l.unsee(keyed(5000 until 5050).select("url_hash"), 0)
    assert(!graft.core.Fs.exists(s"$root/tombstones"),
      "empty unsee must not create tombstone state")
    assert(l.filterUnseen(keyed(0 until 100), 0).count() == 0)
  }

  test("compact applies tombstones physically and clears them") {
    val root = java.nio.file.Files.createTempDirectory("unseecompact").toString
    val l = new Ledger(spark, root, buckets = 4, expectedPerBucket = 4096)
    val all = keyed(0 until 600)
    l.append(all.select("url_hash", "canonical_url"), 0)
    l.writeBlooms(all.select("url_hash", "canonical_url"), 0)
    val purge = all.where(col("seed_idx") % 3 === 0)
    l.unsee(purge.select("url_hash"), 0)
    assert(graft.core.Fs.exists(s"$root/tombstones"))
    l.compact(upToWave = 0)
    // tombstones consumed: dir gone, table physically shrunk
    assert(!graft.core.Fs.exists(s"$root/tombstones"), "tombstones must clear")
    assert(l.committedFrame(0).count() == 400)
    val back = l.filterUnseen(all, 0).select("seed_idx").as[Long].collect().toSet
    assert(back == (0L until 600L).filter(_ % 3 == 0).toSet,
      "post-compaction unseen set")
  }

  test("unsee and compact leave the persistent RDD set as they found it") {
    val root = java.nio.file.Files.createTempDirectory("unseestorage").toString
    val l = new Ledger(spark, root, buckets = 4, expectedPerBucket = 4096)
    l.append(keyed(0 until 300).select("url_hash", "canonical_url"), 0)
    l.writeBlooms(keyed(0 until 300).select("url_hash", "canonical_url"), 0)
    l.append(keyed(300 until 600).select("url_hash", "canonical_url"), 1)
    def holdsNothing(what: String)(f: => Unit): Unit = {
      val held = SparkTestSession.persistedDuring(f)._2
      assert(held.isEmpty, s"$what holds ${held.values}")
    }
    holdsNothing("unsee")(l.unsee(keyed(0 until 100).select("url_hash"), 0))
    holdsNothing("an empty unsee")(l.unsee(keyed(5000 until 5050).select("url_hash"), 0))
    holdsNothing("unsee at wave 1")(l.unsee(keyed(300 until 350).select("url_hash"), 1))
    // compacting to wave 0 rewrites the wave-1 tombstones; to wave 1 clears them
    holdsNothing("compact rewriting tombstones")(l.compact(upToWave = 0))
    assert(graft.core.Fs.exists(s"$root/tombstones"))
    holdsNothing("compact clearing tombstones")(l.compact(upToWave = 1))
    assert(!graft.core.Fs.exists(s"$root/tombstones"))
    val back = l.filterUnseen(keyed(0 until 600), 1).select("seed_idx").as[Long].collect().toSet
    assert(back == ((0L until 100L) ++ (300L until 350L)).toSet)
  }

  private def bloomFiles(root: String, wave: Int): Seq[String] = {
    val dir = java.nio.file.Paths.get(root, "blooms", s"wave=$wave")
    val st = java.nio.file.Files.walk(dir)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      st.forEach(p => if (p.toString.endsWith(".parquet")) out += dir.relativize(p).toString)
      out.toSeq
    } finally st.close()
  }

  test("two bank regimes: one file per wave, or no blooms/ at all") {
    def delta(ids: Range) =
      ids.map(i => (i.toLong, s"http://h.test/$i")).toDF("url_hash", "canonical_url")
    val rootK = java.nio.file.Files.createTempDirectory("ledgerkept").toString
    val rootN = java.nio.file.Files.createTempDirectory("ledgernone").toString
    val kept = new Ledger(spark, rootK, buckets = 4)
    val none = new Ledger(spark, rootN, buckets = 4, maxBankBytes = 0)
    def unseen(cand: Range, upTo: Int) = Seq(kept, none).map(
      _.filterUnseen(delta(cand), upTo).select("url_hash").as[Long].collect().sorted.toSeq)
    // wave 0 through the two-pass write, wave 1 through the fused one
    for (l <- Seq(kept, none)) { l.append(delta(0 until 100), 0); l.writeBlooms(delta(0 until 100), 0) }
    assert(unseen(50 until 150, 0) == Seq.fill(2)((100L until 150L).toSeq))
    for (l <- Seq(kept, none)) l.appendWithBlooms(delta(100 until 120), 1)
    assert(unseen(90 until 130, 1) == Seq.fill(2)((120L until 130L).toSeq))
    // under the ceiling: ONE bank file per wave, no per-bucket layout
    for (w <- 0 to 1) assert(bloomFiles(rootK, w).size == 1, bloomFiles(rootK, w))
    // at maxBankBytes = 0: no bank is ever written
    assert(!graft.core.Fs.exists(s"$rootN/blooms"))
  }

  /** The bank rows a ledger holds: a private field, read here to show the
    * held bank is the bank on disk.
    */
  private def held(l: Ledger): Seq[(Int, Seq[Byte])] = {
    val f = classOf[Ledger].getDeclaredFields.find(_.getName.endsWith("heldRows")).get
    f.setAccessible(true)
    Option(f.get(l).asInstanceOf[Array[(Int, Array[Byte])]]).toSeq.flatten
      .map { case (b, by) => (b, by.toSeq) }
  }

  private def diskBank(root: String, wave: Int): Seq[(Int, Seq[Byte])] =
    spark.read.parquet(s"$root/blooms/wave=$wave").collect().toSeq
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Array[Byte]]("bloom").toSeq)).sortBy(_._1)

  private def bankCollects(jobs: Seq[SparkTestSession.Job]): Int =
    jobs.filter(_.sqlCallSite.exists(_.startsWith("collect at Ledger.scala")))
      .flatMap(_.execution).distinct.size

  test("held bank: a shared ledger collects no bank in steady waves; a fresh one reads it once") {
    val root = java.nio.file.Files.createTempDirectory("ledgerheld").toString
    val a = new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096)
    var expectedSeen = Set.empty[Long]
    val collects = (0 until 4).map { w =>
      val lo = w * 400 // half of each wave was seen the wave before
      val (unseen, jobs) = SparkTestSession.jobsDuring {
        val u = a.filterUnseen(keyed(lo until lo + 800), w - 1)
          .select("seed_idx").as[Long].collect().toSet
        a.appendWithBlooms(keyed(lo until lo + 800).where(col("seed_idx").isin(u.toSeq: _*))
          .select("url_hash", "canonical_url"), w)
        u
      }
      assert(unseen == (lo until lo + 800).map(_.toLong).toSet -- expectedSeen, s"wave $w")
      expectedSeen ++= unseen
      bankCollects(jobs)
    }
    assert(collects.drop(1) == Seq(0, 0, 0), s"bank collects per wave: $collects")
    // the held bank is the bank on disk, and equals one aggregate over
    // every committed key (bloom OR of the per-wave deltas)
    assert(held(a) == diskBank(root, 3))
    val whole = a.committedFrame(3)
      .select(graft.functions.bloom_bank_agg(col("url_hash"), 8, 4096, 1e-2))
      .head().getSeq[Array[Byte]](0).map(_.toSeq).zipWithIndex.map(_.swap)
    assert(held(a) == whole)
    // a fresh ledger on the same root: same answers, one bank read, same bytes
    val probe = keyed(0 until 2400)
    def answers(l: Ledger) = l.filterUnseen(probe, 3).select("seed_idx").as[Long].collect().toSet
    val b = new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096)
    val (ub, bJobs) = SparkTestSession.jobsDuring(answers(b))
    assert(bankCollects(bJobs) == 1)
    assert(ub == answers(a) && ub == (2000L until 2400L).toSet)
    assert(held(b) == held(a))
    assert(bankCollects(SparkTestSession.jobsDuring(answers(b))._2) == 0)
  }

  test("held bank: a wave whose _SUCCESS is gone is never served from memory") {
    val root = java.nio.file.Files.createTempDirectory("ledgerheldgone").toString
    val l = new Ledger(spark, root, buckets = 8, expectedPerBucket = 4096)
    for (w <- 0 until 3)
      l.appendWithBlooms(keyed(w * 300 until (w + 1) * 300).select("url_hash", "canonical_url"), w)
    assert(held(l) == diskBank(root, 2))
    // the wave-2 bank reads as absent: the probe falls back to wave 1's
    // bank plus the anti-join of the uncovered wave-2 slice
    graft.core.Fs.deleteIfExists(s"$root/blooms/wave=2/_SUCCESS")
    val (unseen, jobs) = SparkTestSession.jobsDuring(
      l.filterUnseen(keyed(0 until 1200), 2).select("seed_idx").as[Long].collect().toSet)
    assert(unseen == (900L until 1200L).toSet)
    assert(bankCollects(jobs) == 1, "the wave-1 bank is read from disk")
    assert(held(l) == diskBank(root, 1))
  }
}

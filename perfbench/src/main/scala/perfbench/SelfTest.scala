package perfbench

/** Tests of the benchmark itself (no Spark session):
  *  - the same seed gives the same generator digest, another seed another one;
  *  - each correctness check passes on a truth-built output and fails on a
  *    planted corruption: a flipped byte in an extracted text, a duplicated
  *    URL in a schedule, a slot that breaks politeness, a split family;
  *  - the frontier check excuses the known IDN split exactly, counts it once
  *    per key, and still fails a duplicate on a split key.
  *
  * Run: `python3 perfbench/run.py --selftest`. Exits non-zero on failure.
  */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** Digest of a workload's generator output, computed on the driver. It
    * tests generator determinism only; a run prints the digest of the
    * inputs it actually staged (`input_digest`).
    */
  def generatorDigest(workload: String, seed: Long): Long = {
    val rows: Iterator[String] = workload match {
      case "frontier_probe" =>
        val s = FrontierSpec(seed, n = 2000)
        (0L until s.n).iterator.map(i => Frontier.candidateUrl(s, i)) ++
          (0L until s.ledgerKeys).iterator.map(k => Frontier.canonical(s, k))
      case "crawl_waves" =>
        val s = CrawlSpec(seed, perLevel = 50, levels = 3)
        (0 until s.levels).iterator.flatMap(l => (0L until s.perLevel).map(j => Crawl.url(s, l, j) + Crawl.html(s, l, j)))
      case "page_results" =>
        (0L until 50).iterator.map(i => new String(graft.fixtures.PageGen.page(i, s"src${i % 50}.test", seed).html, "UTF-8"))
      case _ =>
        val s = NearDupSpec(seed, docs = 300)
        (0 until s.docs).iterator.map(d => NearDup.text(s, d) + NearDup.score(s, d))
    }
    rows.foldLeft(seed)((h, r) => Rng.mix(h ^ r.hashCode.toLong))
  }

  def main(args: Array[String]): Unit = {
    for (w <- Workload.names ++ Seq("crawl_waves", "near_dup")) {
      expect(s"$w: same seed, same generator digest", generatorDigest(w, 7) == generatorDigest(w, 7))
      expect(s"$w: other seed, other generator digest", generatorDigest(w, 7) != generatorDigest(w, 8))
    }

    // frontier_probe: a truth-built schedule passes; corruptions fail
    val fs = FrontierSpec(11, n = 20000)
    val cands = (0L until fs.n).map(i => (i, Frontier.keyAndKind(fs, i)))
    def rev(k: Long, kind: Int) = Hosts.reverse {
      val h = Hosts.name(Frontier.hostOf(fs, k))
      if (kind == Frontier.KindIdnUpper) Frontier.upperNonAscii(h) else h
    }
    /** Slots 0, 3, 6, … per host in seed_idx order over (seed_idx, host_rev) rows. */
    def slotted(rows: Seq[(Long, String)]): Seq[SchedRow] = rows.groupBy(_._2).toSeq.flatMap { case (h, rs) =>
      rs.map(_._1).sorted.zipWithIndex.map { case (idx, r) => SchedRow(idx, h, r * 3L) }
    }
    val truth = slotted(cands.filter(_._2._1 >= fs.ledgerKeys).groupBy(_._2._1).toSeq
      .map { case (k, cs) => (cs.map(_._1).min, rev(k, Frontier.KindCanonical)) })
    val fr = Checks.frontier(fs, truth)
    expect("frontier_probe: truth-built schedule passes", fr.checks.failed == 0 && fr.idnSplitKeys == 0)
    val dup = truth :+ truth.head
    expect("frontier_probe: a duplicated URL fails", Checks.frontier(fs, dup).checks.misses.contains("duplicate_key"))
    val victim = truth.groupBy(_.hostRev).values.find(_.size > 2).get.maxBy(_.seedIdx)
    val impolite = truth.map(r => if (r == victim) r.copy(slot = r.slot - 1) else r)
    expect("frontier_probe: a slot that breaks politeness fails",
      Checks.frontier(fs, impolite).checks.misses.getOrElse("politeness", 0L) > 0)
    // the known IDN split: each spelling class scheduled at its own first
    // candidate (seen keys: the upper-case non-ASCII spelling only)
    val splitRows = cands.groupBy { case (_, (k, kind)) => (k, kind == Frontier.KindIdnUpper) }.toSeq
      .collect { case ((k, idn), cs) if idn || k >= fs.ledgerKeys =>
        val (i, (_, kind)) = cs.minBy(_._1)
        (i, rev(k, kind))
      }
    val splitSched = slotted(splitRows)
    val idnKeys = cands.collect { case (_, (k, Frontier.KindIdnUpper)) => k }.distinct.size
    val sr = Checks.frontier(fs, splitSched)
    expect(s"frontier_probe: the IDN split is excused and counted per key ($idnKeys keys)",
      idnKeys > 0 && sr.checks.failed == 0 && sr.idnSplitKeys == idnKeys)
    val idnRow = splitSched.find(r => cands(r.seedIdx.toInt)._2._2 == Frontier.KindIdnUpper).get
    val otherRow = splitSched.find(r => cands(r.seedIdx.toInt)._2._1 == cands(idnRow.seedIdx.toInt)._2._1 && r != idnRow)
    expect("frontier_probe: a duplicated URL on a split key fails",
      Checks.frontier(fs, splitSched :+ otherRow.getOrElse(idnRow)).checks.misses.contains("duplicate_key"))

    // crawl_waves: one wave built from truth passes; a bad slot fails
    val cs = CrawlSpec(12, perLevel = 300, levels = 3)
    val wave1 = (0L until cs.perLevel).map(j => (Crawl.url(cs, 1, j), Crawl.host(cs, 1, j), j))
      .groupBy(_._2).toSeq.flatMap { case (h, rs) =>
        rs.sortBy(_._3).zipWithIndex.map { case ((u, _, j), r) =>
          (u, Hosts.reverse(Hosts.name(h)), j, r * Crawl.expectedGap(cs, h)) }
      }
    expect("crawl_waves: truth-built wave passes", Checks.crawlWave(cs, 1, wave1).failed == 0)
    val bad = wave1.groupBy(_._2).values.find(_.size > 2).get.maxBy(_._3)
    expect("crawl_waves: a slot that breaks the crawl-delay fails",
      Checks.crawlWave(cs, 1, wave1.map(r => if (r == bad) r.copy(_4 = r._4 + 1) else r))
        .misses.getOrElse("politeness", 0L) > 0)
    expect("crawl_waves: a duplicated URL fails",
      Checks.crawlWave(cs, 1, wave1 :+ wave1.head).misses.contains("duplicate_url"))

    // page_results: byte-identical text passes; one flipped byte fails
    val pages = (0L until 40).map(i => graft.fixtures.PageGen.page(i, s"src${i % 50}.test", 13))
    val expected = pages.map(p => p.url -> p.text).toMap
    val good = pages.map(p => (p.url, p.text.getBytes("UTF-8"), 1, 1, graft.embed.HashEmbed.Dim))
    expect("page_results: identical text passes", Checks.pageResults(expected, good).failed == 0)
    val flipped = good.zipWithIndex.map { case (g, i) =>
      if (i == 7) { val b = g._2.clone(); b(b.length / 2) = (b(b.length / 2) ^ 1).toByte; g.copy(_2 = b) } else g }
    expect("page_results: one flipped byte fails",
      Checks.pageResults(expected, flipped).misses.get("text_mismatch").contains(1L))

    // near_dup: planted families as clusters pass; a split family fails
    val ns = NearDupSpec(14, docs = 400)
    val fam = ns.familyOf
    val labels = fam.indices.groupBy(fam(_)).values.filter(_.size > 1).toSeq.flatMap { ds =>
      val keep = ds.maxBy(d => (NearDup.score(ns, d), -d))
      ds.map(d => (d.toLong, ds.min.toLong, keep.toLong))
    }
    expect("near_dup: planted clusters pass", Checks.nearDupClusters(ns, labels).failed == 0)
    val big = labels.groupBy(_._2).values.maxBy(_.size)
    val split = labels.map(l => if (l == big.last) l.copy(_2 = -1L, _3 = l._1) else l)
    expect("near_dup: a split family fails", Checks.nearDupClusters(ns, split).misses.contains("family_split"))
    val pairs = labels.filter(l => l._1 != l._2).map(l => (l._2, l._1))
    expect("near_dup: within-family pairs pass", Checks.nearDupPairs(ns, pairs).failed == 0)
    expect("near_dup: a cross-family pair fails",
      Checks.nearDupPairs(ns, pairs :+ ((big.head._1, labels.find(_._2 != big.head._2).get._1)))
        .misses.contains("cross_family_pair"))

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}

package perfbench

import scala.collection.mutable

/** Correctness checks. Each takes the program's output as plain rows and the
  * generator's ground truth, never the code under test, and returns the
  * number of records checked and the misses by category.
  */
final case class CheckResult(checked: Long, misses: Map[String, Long]) {
  def failed: Long = misses.values.sum
  def ++(o: CheckResult): CheckResult = CheckResult(checked + o.checked,
    (misses.keySet ++ o.misses.keySet).map(k => k -> (misses.getOrElse(k, 0L) + o.misses.getOrElse(k, 0L))).toMap)
  def json: String = Json.obj(Seq("checked" -> Json.num(checked),
    "misses" -> Json.obj(misses.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
}

object CheckResult {
  def apply(checked: Long, misses: mutable.Map[String, Long]): CheckResult =
    CheckResult(checked, misses.filter(_._2 > 0).toMap)
}

/** One scheduled row: candidate seed_idx, the program's host_rev and slot. */
final case class SchedRow(seedIdx: Long, hostRev: String, slot: Long)

/** frontier_probe's check result and the keys the known IDN split explains. */
final case class FrontierResult(checks: CheckResult, idnSplitKeys: Long)

object Checks {

  /** Slots of one host, listed in the program's order, must be 0, g, 2g, …
    * in seed_idx order: distinct, gap-spaced, and first-seen first. Returns
    * the number of rows that break it.
    */
  def politenessMisses(rows: Seq[(Long, Long)], gap: Long): Long = {
    val sorted = rows.sortBy(_._1)
    sorted.zipWithIndex.count { case ((_, slot), r) => slot != r.toLong * gap }.toLong
  }

  /** frontier_probe: the schedule must hold every unseen canonical key the
    * generator planted exactly once, at its first candidate (smallest
    * seed_idx), under the key's true host, and no seen key; within each host
    * the slots must follow politeness.
    *
    * The known IDN split (see README) is excused only where it explains the
    * rows exactly: a key with upper-case non-ASCII spellings whose rows are
    * its first such spelling, under that spelling's host, plus (if unseen)
    * its first other spelling under its true host. Such keys are counted,
    * once each, in `idnSplitKeys`; every other miss on them counts normally.
    */
  def frontier(spec: FrontierSpec, sched: Seq[SchedRow], gap: Long = 3L): FrontierResult = {
    val n = spec.n
    val keyOf = new Array[Long](n)
    val firstIdx, firstIdn, firstOther = mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < n) {
      val (k, kind) = Frontier.keyAndKind(spec, i)
      keyOf(i) = k
      if (!firstIdx.contains(k)) firstIdx(k) = i
      if (kind == Frontier.KindIdnUpper) { if (!firstIdn.contains(k)) firstIdn(k) = i }
      else if (!firstOther.contains(k)) firstOther(k) = i
      i += 1
    }
    def isSeen(k: Long) = k < spec.ledgerKeys
    def trueRev(k: Long) = Hosts.reverse(Hosts.name(Frontier.hostOf(spec, k)))
    val miss = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val byKey = mutable.HashMap.empty[Long, mutable.ArrayBuffer[SchedRow]]
    for (r <- sched) {
      if (r.seedIdx < 0 || r.seedIdx >= n) miss("unknown_row") += 1
      else byKey.getOrElseUpdate(keyOf(r.seedIdx.toInt), mutable.ArrayBuffer.empty) += r
    }
    var idnSplit = 0L
    val unseenKeys = firstIdx.keys.filterNot(isSeen)
    for (k <- (byKey.keySet ++ unseenKeys).toSeq) {
      val got = byKey.getOrElse(k, mutable.ArrayBuffer.empty).map(r => (r.seedIdx, r.hostRev)).sorted
      val correct = if (isSeen(k)) Seq.empty else Seq((firstIdx(k), trueRev(k)))
      val split = firstIdn.get(k).map { idx =>
        val idnRev = Hosts.reverse(Frontier.upperNonAscii(Hosts.name(Frontier.hostOf(spec, k))))
        ((if (isSeen(k)) None else firstOther.get(k).map(o => (o, trueRev(k)))).toSeq :+ ((idx, idnRev))).sorted
      }
      if (got == correct) ()
      else if (split.contains(got.toSeq)) idnSplit += 1
      else {
        if (isSeen(k)) miss("scheduled_seen_key") += got.size
        else {
          if (got.isEmpty) miss("missing_key") += 1
          if (got.size > 1) miss("duplicate_key") += got.size - 1
          miss("not_first_occurrence") += got.count(_._1 != firstIdx(k))
        }
        miss("wrong_host") += got.count(_._2 != trueRev(k))
      }
    }
    val impolite = sched.groupBy(_.hostRev).values
      .map(rs => politenessMisses(rs.map(r => (r.seedIdx, r.slot)), gap)).sum
    miss("politeness") += impolite
    FrontierResult(CheckResult(unseenKeys.size.toLong + sched.size, miss), idnSplit)
  }

  /** crawl_waves, one wave: the scheduled canonical URLs must be exactly the
    * pages of level `wave`, and each host's slots must follow its robots
    * Crawl-delay (or the default gap).
    */
  def crawlWave(spec: CrawlSpec, wave: Int, rows: Seq[(String, String, Long, Long)]): CheckResult = {
    // rows: (canonical_url, host_rev, seed_idx, slot)
    val expected = (0L until spec.perLevel).map(j => Crawl.url(spec, wave, j) -> Crawl.host(spec, wave, j)).toMap
    val miss = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val got = rows.groupBy(_._1)
    for ((u, rs) <- got) {
      if (!expected.contains(u)) miss("unexpected_url") += rs.size
      else if (rs.size > 1) miss("duplicate_url") += rs.size - 1
    }
    miss("missing_url") += expected.keys.count(u => !got.contains(u))
    val gapOfRev = expected.values.toSeq.distinct
      .map(h => Hosts.reverse(Hosts.name(h)) -> Crawl.expectedGap(spec, h)).toMap
    for ((rev, rs) <- rows.groupBy(_._2)) gapOfRev.get(rev) match {
      case Some(g) => miss("politeness") += politenessMisses(rs.map(r => (r._3, r._4)), g)
      case None => miss("unexpected_host") += rs.size
    }
    CheckResult(spec.perLevel.toLong, miss)
  }

  /** page_results: full_text must equal the generator's text byte for byte,
    * and every chunk must carry one 384-dimensional embedding.
    */
  def pageResults(expected: Map[String, String],
      got: Seq[(String, Array[Byte], Int, Int, Int)]): CheckResult = {
    // got: (url, full_text UTF-8 bytes, #chunks, #embeddings, min embedding dim)
    val miss = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val seen = mutable.HashSet.empty[String]
    for ((url, bytes, nChunks, nEmb, minDim) <- got) {
      expected.get(url) match {
        case None => miss("unexpected_url") += 1
        case Some(t) =>
          if (!seen.add(url)) miss("duplicate_url") += 1
          if (!java.util.Arrays.equals(t.getBytes("UTF-8"), bytes)) miss("text_mismatch") += 1
          if (nChunks != nEmb || (nEmb > 0 && minDim != graft.embed.HashEmbed.Dim)) miss("embedding_shape") += 1
      }
    }
    miss("missing_url") += expected.size - seen.size
    CheckResult(expected.size.toLong, miss)
  }

  /** near_dup, MinHash path: every planted family of two or more members
    * must land in one cluster, no cluster may mix families, singletons stay
    * unclustered, and each cluster keeps its best-scored member (ties to
    * the smallest id).
    */
  def nearDupClusters(spec: NearDupSpec, labels: Seq[(Long, Long, Long)]): CheckResult = {
    // labels: (id, cluster_id, keep_id)
    val fam = spec.familyOf
    val miss = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val sizes = fam.groupBy(identity).map { case (f, xs) => f -> xs.length }
    val byCluster = labels.groupBy(_._2)
    val clusterOfFamily = mutable.HashMap.empty[Int, mutable.Set[Long]]
    for ((cid, rs) <- byCluster) {
      val fams = rs.map(r => fam(r._1.toInt)).distinct
      if (fams.size > 1) miss("mixed_cluster") += rs.size
      for (f <- fams) clusterOfFamily.getOrElseUpdate(f, mutable.Set.empty) += cid
      val best = rs.map(_._1).maxBy(id => (NearDup.score(spec, id.toInt), -id))
      miss("wrong_keep") += rs.count(_._3 != best)
    }
    val labelled = labels.map(_._1).toSet
    val membersOf = fam.indices.groupBy(fam(_))
    for ((f, n) <- sizes) {
      val members = membersOf(f)
      if (n == 1) { if (members.exists(d => labelled.contains(d.toLong))) miss("singleton_clustered") += 1 }
      else {
        val cs = clusterOfFamily.getOrElse(f, mutable.Set.empty)
        if (cs.size != 1) miss("family_split") += n
        else miss("member_missing") += members.count(d => !labelled.contains(d.toLong))
      }
    }
    CheckResult(spec.docs.toLong, miss)
  }

  /** near_dup, embedding path: every pair stays inside one family, and every
    * member of a family of two or more appears in at least one pair.
    */
  def nearDupPairs(spec: NearDupSpec, pairs: Seq[(Long, Long)]): CheckResult = {
    val fam = spec.familyOf
    val miss = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    miss("cross_family_pair") += pairs.count { case (a, b) => fam(a.toInt) != fam(b.toInt) }
    val inPair = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    val sizes = fam.groupBy(identity).map { case (f, xs) => f -> xs.length }
    miss("member_unpaired") += fam.indices.count(d => sizes(fam(d)) > 1 && !inPair.contains(d.toLong))
    CheckResult(spec.docs.toLong, miss)
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

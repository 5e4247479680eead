package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import graft.functions.KernelCall

/** Robots.txt gate.
  *
  * The reference ignores robots entirely — Selenium `driver.get` fetches
  * regardless (`/root/reference/web_scraper_pipeline.py:61`), so the DEFAULT
  * here is allow-all to preserve reference parity (SURVEY.md §2.3). The
  * north rule mandates the machinery: a per-executor robots cache broadcast
  * from the driver. Rules are each host's parsed robots.txt ([[FullRules]]:
  * RFC 9309 longest-match Allow/Disallow plus Crawl-delay).
  *
  * At 10^10 scale the broadcast holds rules only for hosts present in the
  * current wave (robots for 10^8 hosts do not fit one broadcast; per-wave
  * host sets do — a wave is host-partitioned anyway).
  */
object Robots {

  /** The robots gate for rule tables that outgrow a broadcast (10^8 hosts ×
    * prefix lists): ONE left-anti join of the wave against a (host, prefix)
    * rules frame — a row is denied iff some nonempty Disallow prefix for its
    * host prefixes its path (the Allow-free, wildcard-free subset of
    * [[HostRules.allows]], which is what a rule TABLE on storage carries,
    * not a driver map). Nothing is ever
    * materialized on the driver (the round-2 version collected the wave's
    * distinct hosts — a driver OOM at exactly the scale this path exists
    * for); Catalyst/AQE picks broadcast-hash vs shuffle-hash for the anti
    * join from the RUNTIME size of the rules side, so a wave-sized rule
    * subset broadcasts and a genuinely huge one co-partitions.
    */
  def filterAllowedJoin(df: DataFrame, rulesDf: DataFrame): DataFrame = {
    val r = rulesDf.select(col("host").as("__r_host"), col("prefix").as("__r_prefix"))
      .where(length(col("__r_prefix")) > 0)
    df.join(r,
      df("host") === col("__r_host") &&
        startswith(graft.functions.url_path(df("canonical_url")), col("__r_prefix")),
      "left_anti")
  }

  // ---------- robots.txt parsing (RFC 9309 subset) ---------------------------

  /** Parsed rules of ONE host's robots.txt for one crawler: Allow/Disallow
    * patterns of the selected user-agent group(s) plus the (non-standard but
    * ubiquitous) Crawl-delay. Precedence is RFC 9309 §2.2.2: the MOST
    * SPECIFIC (longest) matching pattern wins; an Allow beats a Disallow of
    * equal length. Patterns support the RFC's `*` wildcard and `$`
    * end-anchor.
    *
    * The reference ignores robots entirely (`web_scraper_pipeline.py:61`
    * fetches regardless), so these semantics are north-rule surface pinned
    * by the RFC, not by reference behavior.
    */
  final case class HostRules(
      allow: Seq[String],
      disallow: Seq[String],
      crawlDelay: Option[Double]) extends Serializable {
    def allows(path: String): Boolean = {
      var bestDis = -1
      var bestAll = -1
      disallow.foreach(p =>
        if (p.length > bestDis && p.nonEmpty && Robots.patternMatches(p, path)) bestDis = p.length)
      if (bestDis < 0) return true
      allow.foreach(p =>
        if (p.length > bestAll && p.nonEmpty && Robots.patternMatches(p, path)) bestAll = p.length)
      bestAll >= bestDis
    }
  }

  object HostRules {
    val AllowAll: HostRules = HostRules(Nil, Nil, None)
  }

  /** RFC 9309 path-pattern match: literal prefix with `*` matching any run
    * of octets and a trailing `$` anchoring the end. Greedy leftmost scan —
    * correct for this grammar because segments between `*`s can always take
    * the earliest occurrence without losing later matches.
    */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    val segs = p.split("\\*", -1)
    if (segs.length == 1) {
      if (anchored) path == segs(0) else path.startsWith(segs(0))
    } else {
      if (!path.startsWith(segs.head)) return false
      var idx = segs.head.length
      var i = 1
      while (i < segs.length - 1) {
        val f = path.indexOf(segs(i), idx)
        if (f < 0) return false
        idx = f + segs(i).length
        i += 1
      }
      val last = segs.last
      if (anchored) path.length - last.length >= idx && path.endsWith(last)
      else path.indexOf(last, idx) >= 0
    }
  }

  /** Parse one robots.txt body for `agent` (RFC 9309 group selection):
    * groups are runs of `User-agent:` lines plus the rules that follow; the
    * group(s) whose agent token most specifically matches ours (longest
    * token that our product name starts with, case-insensitive) are
    * selected; only if none match does the `*` group apply. Rules of all
    * selected groups merge; the most conservative (largest) Crawl-delay
    * wins. Unknown keys (Sitemap, Host, …) and comments are ignored; empty
    * Allow/Disallow values constrain nothing, per the RFC.
    */
  /** `Sitemap:` directives — group-independent (the sitemaps.org extension
    * RFC 9309 §2.2.4 carries outside user-agent groups), so every agent
    * sees all of them. Values keep their case (urls are case-sensitive
    * past the authority); document order, deduped. Feed the fetched bodies
    * to [[Discover.fromSitemaps]] to seed the frontier.
    */
  def sitemapUrls(txt: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    for (raw <- txt.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0 && line.substring(0, ci).trim.equalsIgnoreCase("sitemap")) {
        val value = line.substring(ci + 1).trim
        if (value.nonEmpty) out += value
      }
    }
    out.toSeq
  }

  def parse(txt: String, agent: String = "graft"): HostRules = {
    final class G {
      val agents = scala.collection.mutable.ListBuffer.empty[String]
      val allow = scala.collection.mutable.ListBuffer.empty[String]
      val disallow = scala.collection.mutable.ListBuffer.empty[String]
      var delay: Option[Double] = None
      var sawRule = false
    }
    val groups = scala.collection.mutable.ListBuffer.empty[G]
    var cur: G = null
    for (raw <- txt.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            // a user-agent line after rules starts a NEW group; consecutive
            // user-agent lines share one group
            if (cur == null || cur.sawRule) { cur = new G; groups += cur }
            cur.agents += value.toLowerCase
          case "allow" if cur != null =>
            cur.sawRule = true; if (value.nonEmpty) cur.allow += value
          case "disallow" if cur != null =>
            cur.sawRule = true; if (value.nonEmpty) cur.disallow += value
          case "crawl-delay" if cur != null =>
            cur.sawRule = true
            cur.delay = value.toDoubleOption.filter(_ >= 0).orElse(cur.delay)
          case _ => () // Sitemap / Host / unknown keys: not group-relevant
        }
      }
    }
    val al = agent.toLowerCase
    val scored = groups.toList.flatMap { g =>
      val hits = g.agents.collect { case a if a != "*" && al.startsWith(a) => a.length }
      if (hits.isEmpty) None else Some((hits.max, g))
    }
    val selected =
      if (scored.nonEmpty) {
        val m = scored.map(_._1).max
        scored.collect { case (s, g) if s == m => g }
      } else groups.toList.filter(_.agents.contains("*"))
    HostRules(
      selected.flatMap(_.allow),
      selected.flatMap(_.disallow),
      selected.flatMap(_.delay).maxOption)
  }

  /** All hosts' parsed rules + a default for hosts with no robots.txt.
    * `gapSeconds` is the politeness budget: the host's Crawl-delay (rounded
    * up to whole seconds — the scheduler's slot unit) or `defaultGapSeconds`.
    */
  final case class FullRules(
      byHost: Map[String, HostRules],
      default: HostRules = HostRules.AllowAll,
      defaultGapSeconds: Long = 3L) extends Serializable {
    def rulesOf(host: String): HostRules = byHost.getOrElse(host, default)
    def allows(host: String, path: String): Boolean = rulesOf(host).allows(path)
    def gapSeconds(host: String): Long =
      rulesOf(host).crawlDelay
        .map(d => math.max(1L, math.ceil(d).toLong))
        .getOrElse(defaultGapSeconds)
  }

  val FullAllowAll: FullRules = FullRules(Map.empty)

  /** Parse every host's robots.txt body into a [[FullRules]]. */
  def parseAll(robotsTxtByHost: Map[String, String], agent: String = "graft",
      defaultGapSeconds: Long = 3L): FullRules =
    FullRules(robotsTxtByHost.map { case (h, t) => h -> parse(t, agent) },
      HostRules.AllowAll, defaultGapSeconds)

  /** The allow-predicate over broadcast [[FullRules]] as a Column (callers
    * split allowed/denied without filtering the denied rows away — the
    * denied side flows into metrics with status 451 instead of silently
    * vanishing).
    */
  def allowedColFull(spark: SparkSession, full: FullRules,
      host: Column, path: Column): Column = {
    val bc = spark.sparkContext.broadcast(full)
    Bridge.column(RobotsFullAllowedExpr(bc,
      Bridge.expression(host), Bridge.expression(path)))
  }

  /** Filter by parsed full rules (longest-match Allow/Disallow). */
  def filterAllowedFull(df: DataFrame, full: FullRules): DataFrame = {
    if (full.byHost.isEmpty && (full.default eq HostRules.AllowAll)) return df
    df.where(allowedColFull(df.sparkSession, full, col("host"),
      graft.functions.url_path(col("canonical_url"))))
  }

  /** Per-host politeness gap (Crawl-delay or the default) over broadcast
    * [[FullRules]] — the scheduler's per-host slot width.
    */
  def gapColFull(spark: SparkSession, full: FullRules, host: Column): Column = {
    val bc = spark.sparkContext.broadcast(full)
    Bridge.column(RobotsGapExpr(bc, Bridge.expression(host)))
  }

  // static helpers the per-row parser expressions codegen against (the
  // fixture/oracle surface — a real crawl parses each host's robots.txt
  // ONCE into broadcast FullRules, never per row)
  def gapSecondsOf(txt: String, agent: String, defaultGap: Long): Long =
    FullRules(Map.empty, parse(txt, agent), defaultGap).gapSeconds("")
  def txtAllows(txt: String, agent: String, path: String): Boolean =
    parse(txt, agent).allows(path)
}

/** (host, path) → allowed? over broadcast PARSED [[Robots.FullRules]]
  * (longest-match Allow/Disallow precedence, RFC 9309). The rules ride a
  * TorrentBroadcast (bytes once per executor, not per task) and the probe
  * stays inside whole-stage codegen as a call on the broadcast's value.
  */
case class RobotsFullAllowedExpr(bc: Broadcast[Robots.FullRules],
    left: Expression, right: Expression) extends BinaryExpression with KernelCall {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    invoke(broadcastValue(bc, classOf[Robots.FullRules]), "allows", str(left), str(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : RobotsFullAllowedExpr = copy(left = l, right = r)
  override def prettyName: String = "robots_allowed_full"
}

/** host → per-host politeness gap (Crawl-delay, whole seconds) over
  * broadcast [[Robots.FullRules]] — the scheduler's per-host slot width.
  */
case class RobotsGapExpr(bc: Broadcast[Robots.FullRules], child: Expression)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    invoke(broadcastValue(bc, classOf[Robots.FullRules]), "gapSeconds", str(child))
  override protected def withNewChildInternal(c: Expression): RobotsGapExpr =
    copy(child = c)
  override def prettyName: String = "robots_gap"
}

/** robots.txt body → Crawl-delay in whole seconds (or `defaultGap`) for
  * `agent` — the PER-ROW parser surface, used by fixtures/oracles where the
  * body is a column. A real crawl parses each host once into broadcast
  * [[Robots.FullRules]] instead (see [[RobotsGapExpr]]).
  */
case class RobotsGapSeconds(child: Expression, agent: String, defaultGap: Long)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Robots, "gapSecondsOf", str(child), const(agent), Literal(defaultGap))
  override protected def withNewChildInternal(c: Expression): RobotsGapSeconds =
    copy(child = c)
  override def prettyName: String = "robots_gap_seconds"
}

/** (robots.txt body, path) → allowed? for `agent` — per-row parser twin of
  * [[RobotsGapSeconds]] for fixtures/oracles.
  */
case class RobotsTxtAllows(left: Expression, right: Expression, agent: String)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Robots, "txtAllows", str(left), const(agent), str(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RobotsTxtAllows =
    copy(left = l, right = r)
  override def prettyName: String = "robots_txt_allows"
}

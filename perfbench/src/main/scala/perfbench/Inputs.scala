package perfbench

/** Seeded input generators for the four workloads.
  *
  * Every generator is a pure function of (seed, index): the same seed gives
  * the same rows, whether they are produced on the driver (for the
  * correctness checks) or inside Spark tasks (for staging). The program only
  * ever sees the staged rows; the ground truth (canonical key, host, family,
  * expected text) stays on the benchmark's side.
  */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, 1) for draw `i` of stream `stream` under `seed`. */
  def u(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + stream) + i) >>> 11) * (1.0 / (1L << 53))
  def below(seed: Long, stream: Long, i: Long, n: Long): Long =
    math.min(n - 1, (u(seed, stream, i) * n).toLong)
}

/** Zipf(s) over ranks 0..n-1, sampled by inverse CDF; rank r is mapped to a
  * host id by a seeded permutation so the hot hosts change with the seed.
  */
final class ZipfHosts(seed: Long, stream: Long, n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  private val perm: Array[Int] = {
    val p = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = Rng.below(seed, stream + 1000, i, i + 1).toInt
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  def sample(u: Double): Int = {
    var lo = 0; var hi = n - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
    perm(lo)
  }
  /** Share of draws that land on the hottest host. */
  def topShare: Double = cdf(0)
}

object Hosts {
  private val Accented = "äöüéñ"
  /** Every eighth host name carries one lower-case non-ASCII letter. */
  def isIdn(h: Int): Boolean = h % 8 == 3
  def name(h: Int): String =
    if (isIdn(h)) s"b${Accented.charAt(h % Accented.length)}cher$h.test"
    else s"h$h.w${h % 13}.test"
  def reverse(host: String): String = host.split('.').reverse.mkString(".")
}

/** frontier_probe: `n` candidates over a key space whose first `n` keys are
  * in the persisted seen-ledger. About half the candidates draw a seen key;
  * the rest draw from `newKeys` unseen keys, so unseen keys repeat inside
  * the wave. `variantShare` of the candidates are spelled as a non-canonical
  * variant of their key's URL.
  */
final case class FrontierSpec(seed: Long, n: Int) {
  val hosts = 4000
  val zipfS = 1.0
  val seenShare = 0.5
  val variantShare = 0.04
  val ledgerKeys: Long = n.toLong
  val newKeys: Long = math.max(1L, (n * 0.4).toLong)
  @transient lazy val zipf = new ZipfHosts(seed, 1, hosts, zipfS)
}

object Frontier {
  val KindCanonical = 0
  val KindCase = 1     // upper-case scheme and ASCII host letters
  val KindPort = 2     // explicit default port
  val KindDots = 3     // dot segments in the path
  val KindFragment = 4 // trailing fragment
  val KindIdnUpper = 5 // upper-case non-ASCII host letter only
  val KindNames = Vector("canonical", "case", "default_port", "dot_segments", "fragment", "idn_upper")

  def hostOf(spec: FrontierSpec, k: Long): Int = spec.zipf.sample(Rng.u(spec.seed, 2, k))
  def scheme(h: Int): String = if (h % 5 == 0) "https" else "http"
  def path(k: Long): String = (k % 4).toInt match {
    case 0 => s"/p/$k"
    case 1 => s"/a/s${k % 17}/item-$k.html"
    case 2 => s"/q/$k?id=$k&s=${k % 5}"
    case _ => s"/d${k % 7}/x/$k/"
  }
  def canonical(spec: FrontierSpec, k: Long): String = {
    val h = hostOf(spec, k)
    s"${scheme(h)}://${Hosts.name(h)}${path(k)}"
  }

  /** (key, kind) of candidate `i`; its seed_idx is `i`. */
  def keyAndKind(spec: FrontierSpec, i: Long): (Long, Int) = {
    val s = spec.seed
    val k =
      if (Rng.u(s, 3, i) < spec.seenShare) Rng.below(s, 4, i, spec.ledgerKeys)
      else spec.ledgerKeys + Rng.below(s, 5, i, spec.newKeys)
    val kind0 =
      if (Rng.u(s, 6, i) < spec.variantShare) 1 + Rng.below(s, 7, i, 5).toInt
      else KindCanonical
    val kind = if (kind0 == KindIdnUpper && !Hosts.isIdn(hostOf(spec, k))) KindCase else kind0
    (k, kind)
  }

  def render(spec: FrontierSpec, k: Long, kind: Int): String = {
    val h = hostOf(spec, k)
    val host = Hosts.name(h)
    val sch = scheme(h)
    kind match {
      case KindCase => s"${sch.toUpperCase}://${host.map(c => if (c < 0x80) c.toUpper else c)}${path(k)}"
      case KindPort => s"$sch://$host:${if (sch == "https") 443 else 80}${path(k)}"
      case KindDots => s"$sch://$host/zz/..${path(k)}"
      case KindFragment => s"$sch://$host${path(k)}#frag${k % 9}"
      case KindIdnUpper => s"$sch://${upperNonAscii(host)}${path(k)}"
      case _ => s"$sch://$host${path(k)}"
    }
  }

  def upperNonAscii(host: String): String = host.map(c => if (c >= 0x80) c.toUpper else c)

  def candidateUrl(spec: FrontierSpec, i: Long): String = {
    val (k, kind) = keyAndKind(spec, i)
    render(spec, k, kind)
  }
}

/** crawl_waves: `levels` × `perLevel` linked pages. Page (L, j) links to two
  * pages of level L+1 through two seeded permutations (so every next-level
  * page is discovered twice and every wave schedules exactly `perLevel`
  * URLs), back to one page of an earlier level (already seen), and — on
  * hosts whose robots.txt has rules — to one `/private/` URL the rules deny.
  */
final case class CrawlSpec(seed: Long, perLevel: Int, levels: Int) {
  val hosts = 400
  val zipfS = 1.0
  val robotsShare = 0.25
  val wordsPerPage = 60
  @transient lazy val zipf = new ZipfHosts(seed, 20, hosts, zipfS)
  private def coprime(a: Long): Long = {
    var x = math.max(1L, a % perLevel)
    while (gcd(x, perLevel) != 1) x += 1
    x
  }
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
  @transient lazy val perm: Array[(Long, Long, Long, Long)] = Array.tabulate(levels) { l =>
    (coprime(1 + Rng.below(seed, 21, l, perLevel)), Rng.below(seed, 22, l, perLevel),
      coprime(1 + Rng.below(seed, 23, l, perLevel)), Rng.below(seed, 24, l, perLevel))
  }
}

object Crawl {
  def host(spec: CrawlSpec, level: Int, j: Long): Int =
    spec.zipf.sample(Rng.u(spec.seed, 25, level.toLong * spec.perLevel + j))
  def url(spec: CrawlSpec, level: Int, j: Long): String =
    s"http://${Hosts.name(host(spec, level, j))}/l$level/p$j"
  def forward(spec: CrawlSpec, level: Int, j: Long): (Long, Long) = {
    val (a1, b1, a2, b2) = spec.perm(level)
    ((a1 * j + b1) % spec.perLevel, (a2 * j + b2 + 1) % spec.perLevel)
  }
  def hasRobots(spec: CrawlSpec, h: Int): Boolean = Rng.u(spec.seed, 26, h) < spec.robotsShare
  /** Crawl-delay in seconds for robots hosts (1..4, some fractional). */
  def crawlDelay(spec: CrawlSpec, h: Int): Double = 0.5 + Rng.below(spec.seed, 27, h, 8) * 0.5
  def robotsTxt(spec: CrawlSpec, h: Int): String = {
    val d = crawlDelay(spec, h)
    if (h % 2 == 0) s"User-agent: *\nDisallow: /private/\nCrawl-delay: $d\n"
    else s"User-agent: other\nDisallow: /\n\nUser-agent: graft\nAllow: /l\nDisallow: /private/\nCrawl-delay: $d\n"
  }
  /** The politeness gap the scheduler must apply to host `h`, in seconds. */
  def expectedGap(spec: CrawlSpec, h: Int): Long =
    if (hasRobots(spec, h)) math.max(1L, math.ceil(crawlDelay(spec, h)).toLong) else 3L

  /** Absolute link to page (level, j), spelled in one of a few equivalent ways. */
  private def href(spec: CrawlSpec, level: Int, j: Long, salt: Long): String = {
    val u = url(spec, level, j)
    (Rng.mix(spec.seed ^ salt) & 7).toInt match {
      case 0 => u + "#top"
      case 1 => u.replace("http://", "HTTP://")
      case _ => u
    }
  }

  def html(spec: CrawlSpec, level: Int, j: Long): String = {
    val sb = new StringBuilder
    sb.append("<html><head><title>level ").append(level).append("</title></head><body>")
    sb.append("<h1>Page ").append(j).append(" of level ").append(level).append("</h1><p>")
    val id = level.toLong * spec.perLevel + j
    for (w <- 0 until spec.wordsPerPage)
      sb.append(Words.word(spec.seed, Rng.below(spec.seed, 28, id * 1000 + w, 2000))).append(' ')
    sb.append("</p>")
    if (level + 1 < spec.levels) {
      val (f1, f2) = forward(spec, level, j)
      sb.append("<a href=\"").append(href(spec, level + 1, f1, id * 3)).append("\">next</a> ")
      sb.append("<a href=\"").append(href(spec, level + 1, f2, id * 3 + 1)).append("\">more</a> ")
    }
    val backLevel = Rng.below(spec.seed, 29, id, level + 1).toInt
    sb.append("<a href=\"").append(url(spec, backLevel, Rng.below(spec.seed, 30, id, spec.perLevel)))
      .append("\">back</a>")
    if (hasRobots(spec, host(spec, level, j)))
      sb.append(" <a href=\"/private/l").append(level).append("/p").append(j).append("\">private</a>")
    sb.append("</body></html>")
    sb.toString
  }
}

/** Seeded pseudo-word vocabulary shared by the crawl pages and the near-dup
  * corpus (syllable words, so unrelated documents share few shingles).
  */
object Words {
  private val Syl = Vector("ka", "ri", "mo", "ten", "sul", "bra", "vi", "lo", "ne", "gor",
    "pa", "du", "fe", "xi", "zan", "qu", "hel", "mir", "to", "ash")
  def word(seed: Long, w: Long): String = {
    val r = Rng.mix(seed * 31 + w)
    val n = 2 + (r & 1).toInt + ((r >>> 1) & 1).toInt
    (0 until n).map(i => Syl(((r >>> (2 + 5 * i)) & 0x1f).toInt % Syl.length)).mkString
  }
}

/** near_dup: documents grouped into planted families. Family sizes are
  * skewed: `singletonShare` of the families are singletons, the rest draw a
  * discrete Pareto size (many pairs, a few families of hundreds). Each
  * member is the family's base text with one word replaced.
  */
final case class NearDupSpec(seed: Long, docs: Int) {
  val wordsPerDoc = 120
  val vocab = 5000
  val singletonShare = 0.6
  val paretoAlpha = 1.3
  val maxFamily = 100
  /** family id of every doc, in doc-id order. */
  @transient lazy val familyOf: Array[Int] = {
    val out = new Array[Int](docs)
    var d = 0; var f = 0
    while (d < docs) {
      val size =
        if (Rng.u(seed, 40, f) < singletonShare) 1
        else math.min(maxFamily,
          math.floor(2.0 * math.pow(1.0 - Rng.u(seed, 41, f), -1.0 / paretoAlpha)).toInt)
      var i = 0
      while (i < size && d < docs) { out(d) = f; d += 1; i += 1 }
      f += 1
    }
    out
  }
  @transient lazy val familyStart: Map[Int, Int] =
    familyOf.indices.groupBy(familyOf(_)).map { case (f, ds) => f -> ds.min }
}

object NearDup {
  def baseWords(spec: NearDupSpec, family: Int): Array[String] =
    Array.tabulate(spec.wordsPerDoc)(w =>
      Words.word(spec.seed, Rng.below(spec.seed, 42, family.toLong * 10000 + w, spec.vocab)))
  def text(spec: NearDupSpec, doc: Int): String = {
    val f = spec.familyOf(doc)
    val ws = baseWords(spec, f)
    if (spec.familyStart(f) != doc) {
      val pos = Rng.below(spec.seed, 43, doc, ws.length).toInt
      ws(pos) = Words.word(spec.seed, spec.vocab + Rng.below(spec.seed, 44, doc, spec.vocab))
    }
    ws.mkString(" ")
  }
  /** Quality score for keep-best (ties broken by the smallest id). */
  def score(spec: NearDupSpec, doc: Int): Double = Rng.below(spec.seed, 45, doc, 50).toDouble
}

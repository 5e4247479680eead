package graft.url

/** URL canonicalization for the frontier (north rule: "RFC 3986 normalize +
  * host-reverse + murmur3 hash").
  *
  * The reference crawler keys its result dict by the *raw* URL string
  * (`/root/reference/web_scraper_pipeline.py:205`) — i.e. its seen-set is
  * string identity. At 10^10-frontier scale string identity over-fetches
  * (HTTP://X/ vs http://x/), so the rebuild canonicalizes first and defines
  * seen-membership over the canonical form (divergence recorded in
  * SURVEY.md §7.3; on seed lists that are already canonical the two agree).
  *
  * Normalization implemented (RFC 3986 §6.2.2-6.2.3, syntax-based only):
  *  - scheme + host lowercased
  *  - default port stripped (:80 http, :443 https)
  *  - dot-segments resolved in the path (§5.2.4)
  *  - percent-encodings of unreserved chars decoded; remaining %XX uppercased
  *  - empty path → "/"
  *  - fragment dropped
  *  - query preserved byte-for-byte (order significant)
  *
  * Pure Scala, no java.net.URL (whose equals/normalize semantics differ and
  * which can touch DNS). Total function: malformed input is returned
  * lowercase-trimmed rather than throwing (a 10^10-row job cannot abort on one
  * bad row; reference aborts — divergence in SURVEY.md §7.3).
  */
object UrlKit {

  private def isUnreserved(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Decode %XX of unreserved chars, uppercase the rest. Other chars pass. */
  private[url] def normPercent(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = (hexVal(s.charAt(i + 1)) << 4) | hexVal(s.charAt(i + 2))
        val ch = v.toChar
        if (v < 0x80 && isUnreserved(ch)) sb.append(ch)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[url] def removeDotSegments(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val (seg, rest) = if (next < 0) (in, "") else (in.substring(0, next), in.substring(next))
        out += seg
        in = rest
      }
    }
    out.mkString
  }

  final case class Parts(scheme: String, host: String, port: Int, path: String, query: String)

  /** Split an absolute http(s) URL; returns null for non-http(s)/malformed. */
  private[url] def parse(raw: String): Parts = {
    val s = raw.trim
    val schemeEnd = s.indexOf("://")
    if (schemeEnd <= 0) return null
    val scheme = s.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    if (scheme != "http" && scheme != "https") return null
    var rest = s.substring(schemeEnd + 3)
    val frag = rest.indexOf('#')
    if (frag >= 0) rest = rest.substring(0, frag)
    val pathStart = {
      val slash = rest.indexOf('/')
      val q = rest.indexOf('?')
      if (slash < 0 && q < 0) rest.length
      else if (slash < 0) q
      else if (q >= 0 && q < slash) q
      else slash
    }
    val authority = rest.substring(0, pathStart)
    if (authority.isEmpty) return null
    val pathAndQuery = rest.substring(pathStart)
    val (rawPath, query) = {
      val q = pathAndQuery.indexOf('?')
      if (q < 0) (pathAndQuery, "") else (pathAndQuery.substring(0, q), pathAndQuery.substring(q + 1))
    }
    // userinfo (rare in crawl seeds) is dropped
    val hostPort = {
      val at = authority.lastIndexOf('@')
      if (at >= 0) authority.substring(at + 1) else authority
    }
    val colon = hostPort.lastIndexOf(':')
    val (host, port) =
      if (colon >= 0 && hostPort.drop(colon + 1).forall(_.isDigit)) {
        val digits = hostPort.substring(colon + 1)
        if (digits.isEmpty) (hostPort.substring(0, colon), -1) // "host:" = default port (RFC 3986 §3.2.3)
        // >5 digits or >65535 would overflow/violate the port range: treat the
        // whole URL as malformed (total-function contract — never throw)
        else if (digits.length <= 5 && digits.toInt <= 65535) (hostPort.substring(0, colon), digits.toInt)
        else return null
      } else (hostPort, -1)
    if (host.isEmpty) return null
    Parts(scheme, host.toLowerCase(java.util.Locale.ROOT), port, rawPath, query)
  }

  /** A non-ASCII authority char that the parser's
    * `toLowerCase(Locale.ROOT)` would rewrite: any case-mapped char (upper
    * and title case, U+0130 `İ`, …) or a surrogate half (supplementary
    * letters lowercase as pairs). Lower-case IDN hosts stay on the fast
    * paths.
    */
  private def lowersNonAscii(c: Char): Boolean =
    c >= 0x80 && (Character.isSurrogate(c) || Character.toLowerCase(c) != c)

  /** True iff `raw` is PROVABLY already canonical — one conservative scan,
    * no allocation. Exclusions err toward the slow path (a hidden-file
    * segment like `/.well-known/` or an explicit non-default port merely
    * skips the shortcut); whenever this returns true the full rebuild
    * would return a byte-identical string, so [[canonicalize]] can return
    * `raw` itself. This is the hot path of a steady-state crawl: links a
    * polite crawler re-discovers are overwhelmingly already canonical, and
    * the rebuild's substring/StringBuilder work per URL is pure waste for
    * them (the bench's staging kernel and every wave's discovery both run
    * one canonicalize per URL).
    */
  private def isCanonicalFast(s: String): Boolean = {
    val n = s.length
    if (n < 8) return false // shortest canonical form is "http://x/"
    // trim identity: String.trim strips chars <= 0x20 from both ends
    if (s.charAt(0) <= ' ' || s.charAt(n - 1) <= ' ') return false
    var i = 0
    if (s.startsWith("http://")) i = 7
    else if (s.startsWith("https://")) i = 8
    else return false
    // authority: up to the first '/'; must be nonempty, already lowercase,
    // and free of userinfo/port/query/fragment starts
    val authStart = i
    while (i < n && s.charAt(i) != '/') {
      val c = s.charAt(i)
      if (c == ':' || c == '@' || c == '?' || c == '#' ||
        (c >= 'A' && c <= 'Z') || lowersNonAscii(c)) return false
      i += 1
    }
    // empty authority, or no '/' after it (empty path would rebuild as "/",
    // and a '?' before any '/' re-anchors the path)
    if (i == authStart || i == n) return false
    // path + query: no fragment (dropped), no '%' (normPercent may rewrite),
    // no "/." in the PATH (dot-segment machinery may rewrite), and a '?'
    // must not be the last char (an empty query is dropped on rebuild)
    var inQuery = false
    while (i < n) {
      val c = s.charAt(i)
      if (c == '#' || c == '%') return false
      if (!inQuery) {
        if (c == '.' && s.charAt(i - 1) == '/') return false
        if (c == '?') { if (i == n - 1) return false; inQuery = true }
      }
      i += 1
    }
    true
  }

  /** Canonical form; total (malformed → lowercased trim). Idempotent. */
  def canonicalize(raw: String): String = {
    if (raw == null) return null
    if (isCanonicalFast(raw)) return raw
    canonicalizeSlow(raw)
  }

  /** The full parse-and-rebuild path; [[canonicalize]] without the
    * already-canonical shortcut. Package-visible so the property suite can
    * assert fast-path == rebuild on adversarial inputs.
    */
  private[graft] def canonicalizeSlow(raw: String): String = {
    if (raw == null) return null
    val p = parse(raw)
    if (p == null) return raw.trim.toLowerCase(java.util.Locale.ROOT)
    val defaultPort = (p.scheme == "http" && p.port == 80) || (p.scheme == "https" && p.port == 443)
    val portStr = if (p.port < 0 || defaultPort) "" else ":" + p.port
    val path0 = normPercent(removeDotSegments(p.path))
    val path = if (path0.isEmpty) "/" else path0
    val query = if (p.query.isEmpty) "" else "?" + normPercent(p.query)
    p.scheme + "://" + p.host + portStr + path + query
  }

  /** Path component of a canonical-or-raw URL ("/" for empty or
    * unparseable): the robots-rule matching key. Uses the full parser, so a
    * '?' before the first '/' (http://h?x=/admin) yields "/" — the query is
    * never mistaken for a path.
    */
  def path(url: String): String = {
    if (url == null) return null
    val p = parse(url)
    if (p == null || p.path.isEmpty) "/" else p.path
  }

  /** Fast host extraction for the canonical-shaped common case: exact
    * lowercase scheme, then the authority up to '/', '?' or end, provided
    * it is nonempty, lowercase, and free of userinfo/port/fragment/space
    * (each of which changes what [[parse]] would return — conservative
    * exclusions fall back to the parser). Returns null when not provable.
    */
  private def hostFastPath(s: String): String = {
    val n = s.length
    var i = 0
    if (s.startsWith("http://")) i = 7
    else if (s.startsWith("https://")) i = 8
    else return null
    val start = i
    while (i < n) {
      val c = s.charAt(i)
      if (c == '/' || c == '?') {
        return if (i == start) null else s.substring(start, i)
      }
      if (c == ':' || c == '@' || c == '#' || c <= ' ' ||
        (c >= 'A' && c <= 'Z') || lowersNonAscii(c)) return null
      i += 1
    }
    if (i == start) null else s.substring(start)
  }

  /** Host of a canonical-or-raw URL ("" if unparseable). */
  def host(url: String): String = {
    if (url == null) return null
    val fast = hostFastPath(url)
    if (fast != null) return fast
    val p = parse(url)
    if (p == null) "" else p.host
  }

  /** [[host]] without the fast path — for the property suite. */
  private[graft] def hostSlow(url: String): String = {
    if (url == null) return null
    val p = parse(url)
    if (p == null) "" else p.host
  }

  /** SURT-style host reversal: www.example.org → org.example.www.
    * Groups sibling hosts of a domain into adjacent sort ranges — the layout
    * trick Common Crawl uses so per-domain scans are range scans.
    */
  def hostReverse(host: String): String = {
    if (host == null) return null
    if (host.isEmpty) return ""
    val parts = host.split('.')
    val sb = new java.lang.StringBuilder(host.length)
    var i = parts.length - 1
    while (i >= 0) { sb.append(parts(i)); if (i > 0) sb.append('.'); i -= 1 }
    sb.toString
  }

  def hostReverseOfUrl(url: String): String = hostReverse(host(url))

  /** Multi-label public suffixes the registrable-domain fold recognizes —
    * a documented SUBSET of the public suffix list (Mozilla PSL; the full
    * list is data, not algorithm): the high-traffic ccTLD second levels
    * plus the big shared-hosting suffixes. Callers with the full PSL pass
    * their own set — the fold rule is what the engine owns.
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "co.nz", "net.nz", "org.nz",
    "co.in", "net.in", "org.in", "ac.in",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw", "com.my",
    "co.za", "co.kr", "or.kr",
    "github.io", "gitlab.io", "blogspot.com")

  /** Registrable domain (eTLD+1): the unit a polite crawler budgets by —
    * `a.shop.example.co.uk` and `b.example.co.uk` are one SITE
    * (`example.co.uk`) even though they are many hosts; per-host politeness
    * alone lets a crawler hammer one operator through its subdomains.
    * A host that IS a public suffix folds to itself; single-label hosts
    * (`localhost`) pass through.
    */
  def registrableDomain(host: String,
      multi: Set[String] = MultiLabelSuffixes.toSet): String = {
    if (host == null) return null
    // trailing-dot FQDN form ("example.com.") folds like its bare twin —
    // and stripping FIRST keeps the scala and column implementations in
    // lockstep (Java's split drops trailing empty labels, Spark's keeps
    // them; without the strip the two would diverge exactly here).
    // Plain loop, not replaceAll: String.replaceAll compiles its Pattern
    // per call and this runs once per host in the domain-cap paths.
    var end = host.length
    while (end > 0 && host.charAt(end - 1) == '.') end -= 1
    val h = if (end == host.length) host else host.substring(0, end)
    val labels = h.split('.')
    if (labels.length <= 1) h
    else {
      val last2 = labels.takeRight(2).mkString(".")
      if (multi.contains(last2)) {
        if (labels.length >= 3) labels.takeRight(3).mkString(".") else h
      } else last2
    }
  }

  /** `scheme` of `ref` if it begins with a valid scheme + ':', else null. */
  private def schemeOf(s: String): String = {
    if (s.isEmpty || !s.charAt(0).isLetter) return null
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ':') return s.substring(0, i)
      if (!(c.isLetterOrDigit || c == '+' || c == '-' || c == '.')) return null
      i += 1
    }
    null
  }

  /** RFC 3986 §5.2 reference resolution against an absolute http(s) base,
    * followed by canonicalization — the link-discovery hop. Returns null for
    * non-crawlable schemes (mailto:, javascript:, ftp:, …): a crawl frontier
    * drops those, and null is how a Catalyst expression says "drop".
    * Fragments are stripped first (a fragment never changes the fetched
    * resource). Total function otherwise.
    */
  def resolve(base: String, ref0: String): String = {
    if (base == null || ref0 == null) return null
    var ref = ref0.trim
    val frag = ref.indexOf('#')
    if (frag >= 0) ref = ref.substring(0, frag)
    if (ref.isEmpty) return canonicalize(base)
    val scheme = schemeOf(ref)
    if (scheme != null) {
      val low = scheme.toLowerCase(java.util.Locale.ROOT)
      return if (low == "http" || low == "https") canonicalize(ref) else null
    }
    val bp = parse(base)
    if (bp == null) return null // relative link against an unparseable base
    val portStr = if (bp.port < 0) "" else ":" + bp.port
    val origin = bp.scheme + "://" + bp.host + portStr
    if (ref.startsWith("//")) canonicalize(bp.scheme + ":" + ref)
    else if (ref.startsWith("/")) canonicalize(origin + ref)
    else if (ref.startsWith("?")) {
      val basePath = if (bp.path.isEmpty) "/" else bp.path
      canonicalize(origin + basePath + ref)
    } else {
      // merge with the base path's directory (§5.2.3); canonicalize resolves
      // any ../ the ref carries
      val basePath = if (bp.path.isEmpty) "/" else bp.path
      val dir = basePath.substring(0, basePath.lastIndexOf('/') + 1)
      canonicalize(origin + dir + ref)
    }
  }
}

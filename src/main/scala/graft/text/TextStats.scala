package graft.text

import graft.core.Py
import scala.util.hashing.MurmurHash3

/** Text-analysis kernels for the training-data pipeline: language-ID,
  * quality scoring, token counting, document fingerprinting. All pure and
  * deterministic (fixture-oracle-able); the SQL-expressible ones also have
  * DuckDB oracle twins in [[graft.SparkEntry.oracleSql]].
  */
object TextStats {

  /** Marker stopwords per language for the n-gram/stopword-hit heuristic.
    * Deliberately tiny and frozen: the DuckDB oracle re-computes the same
    * counts, so the list is part of the spec, not a tuning knob.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "la", "les", "des", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Count of whole-word occurrences of `word` in `text` (text assumed
    * already lowercase/space-tokenizable; matches the SQL oracle's
    * ' '||text||' ' LIKE counting).
    */
  def wordHits(text: String, word: String): Int = {
    var n = 0
    val padded = " " + text + " "
    val needle = " " + word + " "
    var i = padded.indexOf(needle)
    while (i >= 0) { n += 1; i = padded.indexOf(needle, i + 1) }
    n
  }

  /** argmax language by marker hits; ties broken by language code order;
    * "und" (undetermined) when no marker hits at all.
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var best = "und"
    var bestHits = 0
    for ((lang, markers) <- LangMarkers.sortBy(_._1)) {
      var hits = 0
      for (m <- markers) hits += wordHits(lower, m)
      if (hits > bestHits) { best = lang; bestHits = hits }
    }
    best
  }

  /** Quality heuristics à la C4/Gopher rules, scaled to [0,1]:
    * mean word length in [3,10], stopword ratio ≥ 0.01, not mostly
    * punctuation, non-trivial length. Returned as the four raw features —
    * scoring policy stays in SQL/DataFrame land so the oracle can replicate.
    */
  final case class Quality(nWords: Int, meanWordLen: Double, punctRatio: Double, stopRatio: Double)

  private val Stopwords = LangMarkers.flatMap(_._2).toSet

  def quality(text: String): Quality = {
    if (text == null || text.isEmpty) return Quality(0, 0.0, 0.0, 0.0)
    val words = Py.split(text)
    val n = words.length
    if (n == 0) return Quality(0, 0.0, 0.0, 0.0)
    var chars = 0L
    var punct = 0L
    var stop = 0
    var i = 0
    while (i < n) {
      val w = words(i)
      chars += w.length
      var j = 0
      while (j < w.length) {
        val c = w.charAt(j)
        if (!Character.isLetterOrDigit(c)) punct += 1
        j += 1
      }
      if (Stopwords.contains(w.toLowerCase(java.util.Locale.ROOT))) stop += 1
      i += 1
    }
    Quality(n, chars.toDouble / n, if (chars == 0) 0.0 else punct.toDouble / chars, stop.toDouble / n)
  }

  /** Repetition quality signals (Gopher/MassiveText §A1.1), one pass.
    * Semantics pinned to the q41 DuckDB oracle:
    *  - lines = '\n'-split segments, SPACE-trimmed (DuckDB `trim` strips
    *    spaces only — not Java `String.trim`, which also eats tabs),
    *    empties dropped;
    *  - dup_line_frac   = (|lines| − |distinct|) / |lines|;
    *  - excess_char_frac = character mass beyond one copy per distinct line;
    *  - top_bigram_frac = max bigram frequency / bigram count, over
    *    space-trimmed `\s+` tokens (0.0 under 2 tokens).
    *
    * Exists as a kernel because the Column-composition version (higher-order
    * array functions) runs interpreted AND re-evaluates the embedded
    * split-per-lambda-element — O(tokens² × distinct) regex work per row,
    * measured as a single-task multi-minute stall at sf0.1.
    */
  final case class Repetition(nLines: Int, dupLineFrac: Double,
      excessCharFrac: Double, topBigramFrac: Double)

  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  def repetitionStats(text: String): Repetition = {
    if (text == null || text.isEmpty) return Repetition(0, 0.0, 0.0, 0.0)
    // --- line signals ---
    val rawLines = text.split("\n", -1)
    var nLines = 0
    var sumLen = 0L
    var sumDistinctLen = 0L
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < rawLines.length) {
      val l = trimSpaces(rawLines(i))
      if (l.nonEmpty) {
        nLines += 1
        sumLen += l.length
        if (seen.add(l)) sumDistinctLen += l.length
      }
      i += 1
    }
    val dupLineFrac =
      if (nLines == 0) 0.0 else (nLines - seen.size) * 1.0 / nLines
    val excess =
      if (sumLen == 0L) 0.0 else (sumLen - sumDistinctLen) * 1.0 / sumLen
    // --- top-bigram signal ---
    val toks = trimSpaces(text).split("\\s+", -1)
    val nBigrams = toks.length - 1
    var top = 0
    if (nBigrams >= 1) {
      val counts = new java.util.HashMap[String, Int]()
      var j = 0
      while (j < nBigrams) {
        val bg = toks(j) + " " + toks(j + 1)
        val c = counts.merge(bg, 1, (a, b) => a + b)
        if (c > top) top = c
        j += 1
      }
    }
    val topFrac = if (nBigrams < 1) 0.0 else top.toDouble / nBigrams
    Repetition(nLines, dupLineFrac, excess, topFrac)
  }

  /** BPE-ish sub-token count: runs of letters, runs of digits, and each
    * other non-space char count as one token — the standard cheap proxy for
    * tokenizer budget. Regex twin: `[\p{L}]+|[0-9]+|[^\p{L}0-9\s]`.
    */
  def tokenCountBpe(text: String): Int = {
    if (text == null) return 0
    var i = 0; var n = 0; val len = text.length
    while (i < len) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) { n += 1; while (i < len && Character.isLetter(text.charAt(i))) i += 1 }
      else if (c >= '0' && c <= '9') { n += 1; while (i < len && { val d = text.charAt(i); d >= '0' && d <= '9' }) i += 1 }
      else if (Py.isSpace(c) || Character.isWhitespace(c)) i += 1
      else { n += 1; i += 1 }
    }
    n
  }

  // ----- document fingerprinting: Karp-Rabin winnowing (Schleimer et al.,
  // SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting") ----

  private final val Base = 1000003L
  private final val Mod = (1L << 61) - 1

  private def mulmod(a: Long, b: Long): Long = {
    // 61-bit modulus → 128-bit product via Math.multiplyHigh
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // (hi:lo) mod 2^61-1: fold 3 high bits down
    val x = (lo & Mod) + ((lo >>> 61) | (hi << 3) & Mod) + (hi >>> 58)
    val y = (x & Mod) + (x >>> 61)
    if (y >= Mod) y - Mod else y
  }

  /** Rolling hash of each k-gram of tokens; winnowed: min hash per window of
    * w consecutive k-gram hashes (rightmost min), deduplicated in order.
    * The fingerprint SET is position-independent — two documents sharing long
    * runs of text share fingerprints regardless of offset.
    */
  def fingerprints(text: String, k: Int = 5, w: Int = 4): Vector[Long] = {
    if (text == null) return Vector.empty
    val toks = Py.split(text)
    if (toks.length < k) {
      if (toks.isEmpty) return Vector.empty
      return Vector(hashGram(toks, 0, toks.length))
    }
    val grams = new Array[Long](toks.length - k + 1)
    var i = 0
    while (i < grams.length) { grams(i) = hashGram(toks, i, k); i += 1 }
    if (grams.length <= w) return Vector(grams.min)
    val out = Vector.newBuilder[Long]
    var last = -1L
    var lastIdx = -1
    i = 0
    while (i + w <= grams.length) {
      var minIdx = i
      var j = i + 1
      while (j < i + w) { if (grams(j) <= grams(minIdx)) minIdx = j; j += 1 }
      if (minIdx != lastIdx) { last = grams(minIdx); lastIdx = minIdx; out += last }
      i += 1
    }
    out.result()
  }

  private def hashGram(toks: Array[String], from: Int, len: Int): Long = {
    var h = 0L
    var i = from
    while (i < from + len) {
      val th = MurmurHash3.stringHash(toks(i), 0xDEC0DE).toLong & 0xffffffffL
      h = (mulmod(h, Base) + th) % Mod
      i += 1
    }
    h
  }

  // ----- 64-bit token hash shared by simhash/minhash ----------------------

  def tokenHash64(s: String): Long = {
    val h1 = MurmurHash3.stringHash(s, 0x9747b28c)
    val h2 = MurmurHash3.stringHash(s, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** SimHash (Charikar, STOC'02): 64-bit signature; near-dups have small
    * Hamming distance. Token-frequency weighted.
    */
  def simHash64(text: String): Long = {
    if (text == null) return 0L
    val acc = new Array[Int](64)
    val toks = Py.split(text)
    var i = 0
    while (i < toks.length) {
      val h = tokenHash64(toks(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  // ----- MinHash over word shingles (Broder '97) ---------------------------

  /** k-word shingles of a token array (joined by single space). */
  def shingles(text: String, k: Int): Vector[String] = {
    val toks = Py.split(text)
    if (toks.length < k) { if (toks.isEmpty) Vector.empty else Vector(toks.mkString(" ")) }
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).toVector
  }

  /** MinHash signature: h_i(x) = (a_i * x + b_i) mod p over 61-bit prime,
    * x = 64-bit shingle hash. Deterministic coefficients from a splitmix-like
    * sequence so oracle/fixture code can regenerate them.
    */
  def minHashCoeffs(numHashes: Int): Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](numHashes)
    var state = 0x2545F4914F6CDD1DL
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) & Mod
    }
    var i = 0
    while (i < numHashes) { out(i) = ((next() | 1L) % Mod, next() % Mod); i += 1 }
    out
  }

  def minHashSignature(text: String, k: Int, coeffs: Array[(Long, Long)]): Array[Long] = {
    val sh = shingles(text, k)
    val sig = Array.fill(coeffs.length)(Long.MaxValue)
    var s = 0
    while (s < sh.length) {
      val x = tokenHash64(sh(s)) & Mod
      var i = 0
      while (i < coeffs.length) {
        val (a, b) = coeffs(i)
        val v = (mulmod(a, x) + b) % Mod
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** Exact n-gram Jaccard similarity between two texts (verifier for LSH
    * candidate pairs).
    */
  def jaccard(a: String, b: String, k: Int): Double = {
    val sa = shingles(a, k).toSet
    val sb = shingles(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) return 1.0
    val inter = sa.intersect(sb).size
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

package graft.core

/** Python-compatible string primitives.
  *
  * The reference pipeline (`/root/reference/web_scraper_pipeline.py`) leans on
  * Python `str.strip()` / `str.split()` semantics in four places that are
  * byte-observable in the output invariant:
  *   - `get_text(strip=True)` strips every descendant text node (:89)
  *   - `preprocess_text` ends with `.strip()` (:99)
  *   - `_words` is `str.split()` (:109-110)
  *   - chunk flush joins + strips (:137)
  *
  * Python treats as whitespace: the ASCII set ` \t\n\r\f\v`, the C1 controls
  * `\x1c..\x1f`, `\x85` (NEL), and every Unicode SPACE_SEPARATOR (category Zs,
  * which includes ` ` NBSP — NOT whitespace for Java's
  * `Character.isWhitespace`). These helpers replicate that exactly.
  */
object Py {

  @inline def isSpace(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r') || (c >= 0x1c && c <= 0x1f)
    else c == 0x85 || c == 0xa0 || // NEL, NBSP
      c == 0x2028 || c == 0x2029 || // Zl / Zp, also Python-space
      (c >= 0x1680 && Character.getType(c) == Character.SPACE_SEPARATOR)

  /** Python `str.strip()` (no args). */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Python `str.split()` (no args): split on whitespace runs, drop empties. */
  def split(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSpace(s.charAt(i))) i += 1
        out += s.substring(start, i)
      }
    }
    out.toArray
  }

  /** Word count without materializing the array (hot path). */
  def wordCount(s: String): Int = wordCount(s, 0, s.length)

  /** Word count of `s[from, to)`. */
  def wordCount(s: String, from: Int, to: Int): Int = {
    var i = from; var n = 0; val len = to
    while (i < len) {
      while (i < len && isSpace(s.charAt(i))) i += 1
      if (i < len) { n += 1; while (i < len && !isSpace(s.charAt(i))) i += 1 }
    }
    n
  }
}

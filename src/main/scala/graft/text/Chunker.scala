package graft.text

import graft.core.Py

/** Deterministic sentence splitter.
  *
  * The reference uses NLTK punkt (`/root/reference/web_scraper_pipeline.py:119`)
  * — a trained model we cannot (and must not) ship. Per SURVEY.md §5.1 the
  * rebuild's own rule-based splitter IS the fixture truth: break after a run
  * of `.!?` (plus closing quotes/brackets) followed by whitespace and an
  * uppercase letter or digit. Divergence from punkt only on
  * abbreviation-heavy text, which the synthetic corpus excludes (§7.3).
  */
object SentenceSplit {

  private def isTerminator(c: Char): Boolean = c == '.' || c == '!' || c == '?'
  private def isCloser(c: Char): Boolean =
    c == '"' || c == '\'' || c == ')' || c == ']' || c == '”' || c == '’'

  def split(text: String): Vector[String] = {
    val s = text
    val n = s.length
    val out = Vector.newBuilder[String]
    var start = 0
    var i = 0
    while (i < n) {
      if (isTerminator(s.charAt(i))) {
        var j = i + 1
        while (j < n && (isTerminator(s.charAt(j)) || isCloser(s.charAt(j)))) j += 1
        // need ≥1 whitespace then uppercase/digit to break
        var k = j
        while (k < n && Py.isSpace(s.charAt(k))) k += 1
        if (k > j && k < n && (Character.isUpperCase(s.charAt(k)) || Character.isDigit(s.charAt(k)))) {
          val sent = Py.strip(s.substring(start, j))
          if (sent.nonEmpty) out += sent
          start = k
          i = k
        } else i = j
      } else i += 1
    }
    if (start < n) {
      val sent = Py.strip(s.substring(start))
      if (sent.nonEmpty) out += sent
    }
    out.result()
  }
}

/** Hybrid (content-aware + recursive) chunker — semantics of
  * `hybrid_chunk` / `_split_recursive`
  * (`/root/reference/web_scraper_pipeline.py:105-166`), pinned case by case:
  *
  *  - paragraphs = text.split("\n") with blank (Python-strip-empty) lines
  *    dropped (`:128`);
  *  - greedy accumulation: if `current_size + len(words(para)) > max` flush
  *    first, then ALWAYS append the paragraph (`:146-151`) — so a paragraph
  *    alone bigger than max forms its own oversized buffer and is split
  *    recursively on flush (`:139-140`);
  *  - flush joins the buffered paragraphs with " " and Python-strips (`:137`);
  *  - `_split_recursive` (`:113-123`): ≤max → [text]; else sentence-split,
  *    cut the sentence list at n/2, join halves with " ", recurse. The
  *    reference never terminates when a single sentence exceeds max
  *    (n=1 → left="" recurses forever) — BUG pinned in SURVEY.md §2.1-R8;
  *    the rebuild guards it with a hard word-window split (documented
  *    divergence, observable only on the guard fixture);
  *  - overlap pass (`:155-164`): for i>0, prepend the last `overlap` words of
  *    the PRE-overlap chunk i-1 plus a single space. Post-overlap chunks may
  *    exceed max by up to `overlap` words — by design.
  *
  * Pure function: deterministic, no Spark types — usable from a typed
  * `flatMap`, from the [[graft.functions]] Catalyst expression, and from the
  * fixture generator (one implementation, three call sites).
  */
object Chunker {

  val MaxWords = 512
  val OverlapWords = 50

  final case class Config(maxWords: Int = MaxWords, overlapWords: Int = OverlapWords)

  private def windowSplit(words: Array[String], max: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < words.length) {
      val j = math.min(i + max, words.length)
      out += words.slice(i, j).mkString(" ")
      i = j
    }
    out.result()
  }

  def splitRecursive(text: String, maxWords: Int): Vector[String] = {
    if (Py.wordCount(text) <= maxWords) return Vector(text)
    val sentences = SentenceSplit.split(text)
    if (sentences.length <= 1) {
      // reference bug guard (`:120-123` would loop forever here)
      return windowSplit(Py.split(text), maxWords)
    }
    val mid = sentences.length / 2
    val left = sentences.slice(0, mid).mkString(" ")
    val right = sentences.slice(mid, sentences.length).mkString(" ")
    splitRecursive(left, maxWords) ++ splitRecursive(right, maxWords)
  }

  /** Walks line and word boundaries by index: each line's words are
    * counted once and buffered lines are appended straight into one
    * builder, so the common single-chunk text is one join.
    */
  def chunk(text: String, cfg: Config = Config()): Vector[String] = {
    if (text == null) return Vector.empty
    val chunks = Vector.newBuilder[String]
    val current = new java.lang.StringBuilder
    var currentSize = 0

    def flush(): Unit = if (currentSize > 0) {
      val joined = Py.strip(current.toString)
      // a joined buffer has exactly the words of its lines
      if (currentSize > cfg.maxWords) chunks ++= splitRecursive(joined, cfg.maxWords)
      else chunks += joined
      current.setLength(0)
      currentSize = 0
    }

    var lineStart = 0
    while (lineStart <= text.length) {
      var lineEnd = text.indexOf('\n', lineStart)
      if (lineEnd < 0) lineEnd = text.length
      val w = Py.wordCount(text, lineStart, lineEnd)
      if (w > 0) { // blank (Python-strip-empty) lines are dropped
        if (currentSize + w > cfg.maxWords) flush()
        if (currentSize > 0) current.append(' ')
        current.append(text, lineStart, lineEnd)
        currentSize += w
      }
      lineStart = lineEnd + 1
    }
    flush()

    val pre = chunks.result()
    if (cfg.overlapWords > 0 && pre.length > 1) {
      pre.zipWithIndex.map { case (c, i) =>
        if (i == 0) c
        else {
          val prevWords = Py.split(pre(i - 1))
          val from = math.max(0, prevWords.length - cfg.overlapWords)
          prevWords.slice(from, prevWords.length).mkString(" ") + " " + c
        }
      }
    } else pre
  }
}

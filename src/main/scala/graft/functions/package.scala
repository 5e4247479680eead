package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-level API over the custom Catalyst expressions — the rebuild's
  * equivalent of `org.apache.spark.sql.functions._` for the operators the
  * reference has and Spark lacks. Everything here is a proper `Expression`
  * (codegen'd, null-propagating, Catalyst-optimizable), NOT a `udf()`.
  */
package object functions {

  private def expr(c: Column): Expression = Bridge.expression(c)
  private def col(e: Expression): Column = Bridge.column(e)

  /** RFC 3986 canonical form of a URL (SURVEY.md §2.3). */
  def canonicalize_url(c: Column): Column = col(CanonicalizeUrl(expr(c)))

  /** Host component of a URL ("" if unparseable). */
  def host_of(c: Column): Column = col(HostOf(expr(c)))

  /** SURT-style host reversal: www.example.org → org.example.www. */
  def host_reverse(c: Column): Column = col(HostReverse(expr(c)))

  /** extract + preprocess — the per-row text invariant (input_hint). */
  def extract_readable(c: Column): Column = col(ExtractReadable(expr(c)))

  /** `preprocess_text` (reference `:95-99`) as pure built-ins — collapse
    * runs of spaces/tabs, collapse blank lines, Python-strip. Stays entirely
    * inside whole-stage codegen (three codegen'd regexp_replace calls) and is
    * DuckDB-oracle-expressible, unlike an opaque UDF.
    */
  def preprocess_text(c: Column): Column = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "[ \t]+", " "),
        "\n{2,}", "\n"),
      "^\\s+|\\s+$", "")
  }

  /** Hybrid chunker → ARRAY<STRING> (reference `:126-166`). */
  def chunk_text(c: Column,
      maxWords: Int = text.Chunker.MaxWords,
      overlap: Int = text.Chunker.OverlapWords): Column =
    col(ChunkText(expr(c), maxWords, overlap))

  /** html → STRUCT(full_text, chunks, embeddings), one kernel call per row
    * (reference `:186-233`).
    */
  def page_results(c: Column): Column = col(PageResults(expr(c)))

  /** Lateral-view chunker: (chunk_id INT, chunk STRING) rows. */
  def chunk_explode(c: Column,
      maxWords: Int = text.Chunker.MaxWords,
      overlap: Int = text.Chunker.OverlapWords): Column =
    col(ChunkGenerator(expr(c), maxWords, overlap))

  /** Hashed-token-frequency embedding → ARRAY<FLOAT>[dim]. */
  def hash_embed(c: Column, dim: Int = embed.HashEmbed.Dim): Column =
    col(HashEmbedExpr(expr(c), dim))

  /** SimHash 64-bit signature. */
  def simhash64(c: Column): Column = col(SimHash64(expr(c)))

  /** MinHash signature → ARRAY<BIGINT>[numHashes] over k-word shingles. */
  def minhash_sig(c: Column, shingleK: Int, numHashes: Int): Column =
    col(MinHashSig(expr(c), shingleK, numHashes))

  /** Language-ID heuristic (marker-stopword argmax). */
  def lang_id(c: Column): Column = col(LangIdExpr(expr(c)))

  /** BPE-ish token count (letters-run | digits-run | other-char). */
  def token_count_bpe(c: Column): Column = col(TokenCountBpe(expr(c)))

  /** Winnowing fingerprints → ARRAY<BIGINT>. */
  def fingerprints(c: Column, k: Int = 5, w: Int = 4): Column =
    col(Fingerprints(expr(c), k, w))

  /** Whole-bank bloom aggregate: keys → ARRAY<BINARY> of `buckets`
    * serialized blooms (index = pmod(key, buckets)); one child eval per
    * row, so it can ride an `observe()` cheaply.
    */
  def bloom_bank_agg(keys: Column, buckets: Int, expectedPerBucket: Long,
      fpp: Double = 1e-2): Column =
    sketch_agg(keys, BankSketch(BloomFamily, buckets, expectedPerBucket, fpp))

  /** A [[Sketch]] as an aggregate column ([[SketchAgg]]): the one binding
    * the named sketch aggregates and the filter banks share.
    */
  private[graft] def sketch_agg(input: Column, sketch: Sketch[_]): Column =
    col(SketchAgg(expr(input), sketch).toAggregateExpression())

  /** Count-min frequency estimate (sketch BINARY, key BIGINT) → BIGINT;
    * never under-counts.
    */
  def cms_estimate(sketch: Column, key: Column): Column =
    col(CmsEstimate(expr(sketch), expr(key)))

  /** Count-min sketch build aggregate: BIGINT keys → serialized sketch. */
  def cms_agg(keys: Column, depth: Int = 4, width: Int = 1 << 16): Column =
    sketch_agg(keys, CmsBuild(depth, width))

  /** HLL distinct-count build aggregate: pre-hashed BIGINT keys →
    * serialized sketch BINARY (2^p one-byte registers).
    */
  def hll_agg(hashes: Column, p: Int = 11): Column =
    sketch_agg(hashes, HllBuild(p))

  /** Merge aggregate over serialized same-precision HLL images → BINARY
    * (element-wise register max — commutative AND idempotent).
    */
  def hll_merge_agg(sketches: Column): Column =
    sketch_agg(sketches, HllMerge)

  /** Fixed-point HLL cardinality estimate: sketch BINARY → BIGINT. */
  def hll_card(sketch: Column): Column = col(HllCard(expr(sketch)))

  /** Zero-register count of an HLL image (linear-counting input). */
  def hll_zeros(sketch: Column): Column = col(HllZeros(expr(sketch)))

  /** Register count m = 2^p of an HLL image. */
  def hll_m(sketch: Column): Column = col(HllM(expr(sketch)))

  /** Best-practice HLL estimate: linear counting `m·ln(m∕zeros)` in LC's
    * validity regime — zero registers remain AND the raw estimate is
    * ≤ 2.5·m (the classic dual guard; z > 0 alone misfires in the
    * n ≈ m·ln(m) band, where a lone surviving zero register would yield a
    * hard ~20% underestimate) — the fixed-point raw estimate otherwise.
    * DOUBLE ln — an ESTIMATE column, not an oracle-exact one (the
    * oracle-replayable member is [[hll_card]]).
    */
  def hll_card_corrected(sketch: Column): Column = {
    val z = hll_zeros(sketch).cast("double")
    val mm = hll_m(sketch).cast("double")
    val raw = hll_card(sketch)
    org.apache.spark.sql.functions.when(
      z > 0 && raw.cast("double") <= mm * 2.5,
      org.apache.spark.sql.functions.round(mm *
        org.apache.spark.sql.functions.log(mm / z)).cast("long"))
      .otherwise(raw)
  }

  /** Registrable domain (eTLD+1) of a HOST column — [[graft.url.UrlKit
    * .registrableDomain]] as pure built-ins (stays in whole-stage codegen
    * AND replays verbatim in the SQL oracle; the suffix membership probe
    * is one IN over a ≤50-entry literal list).
    */
  def registrable_domain(host: Column,
      multi: Seq[String] = graft.url.UrlKit.MultiLabelSuffixes): Column = {
    import org.apache.spark.sql.{functions => F}
    // trailing-dot strip FIRST — Spark's split keeps trailing empty
    // labels where Java's drops them, so without this the column and
    // scala forms disagree on FQDN hosts ("a.co.uk." → bogus "uk.")
    val h = F.regexp_replace(host, "\\.+$", "")
    val labels = F.split(h, "\\.")
    val n = F.size(labels)
    val last2 = F.concat_ws(".", F.slice(labels, -2, 2))
    val isMulti = last2.isin(multi: _*)
    F.when(n <= 1, h)
      .when(isMulti && n >= 3, F.concat_ws(".", F.slice(labels, -3, 3)))
      .when(isMulti, h)
      .otherwise(last2)
  }

  /** Naked URLs mentioned in PLAIN TEXT — the discovery channel `<a href>`
    * extraction misses entirely (forums, markdown, comments, plain-text
    * citations), in document order. Pure built-ins over an RE2-safe
    * pattern both engines run verbatim (the PII-operator discipline):
    * a conservative URL charset (quotes/parens/whitespace end the match,
    * so "(http://a.test/x)" extracts cleanly), trailing sentence
    * punctuation stripped, bare schemes ("https:// ") dropped.
    * Resolution/canonicalization belongs downstream like every other
    * discovered URL.
    */
  def text_urls(c: Column): Column = {
    import org.apache.spark.sql.{functions => F}
    val raw = F.regexp_extract_all(c,
      F.lit("https?://[A-Za-z0-9._/:?=&#%~+-]+"), F.lit(0))
    val trimmed = F.transform(raw, u => F.regexp_replace(u, "[.,;:!?]+$", ""))
    F.filter(trimmed,
      u => F.length(F.regexp_replace(u, "^https?://", "")) > 0)
  }

  /** Component-wise vector-sum aggregate (ARRAY<FLOAT|DOUBLE> →
    * ARRAY<DOUBLE>); one double[dim] buffer per group, map-side partials.
    */
  def vec_sum_agg(vecs: Column): Column =
    sketch_agg(vecs, VecSum)

  /** Path component of a URL ("/" when empty/unparseable) — robots key. */
  def url_path(c: Column): Column = col(UrlPath(expr(c)))

  /** Exact k-word-shingle Jaccard between two text columns. */
  def jaccard_shingles(a: Column, b: Column, k: Int): Column =
    col(JaccardShingles(expr(a), expr(b), k))

  /** All `<a href>` targets of an HTML document → ARRAY<STRING>. */
  def extract_links(c: Column): Column = col(ExtractLinks(expr(c)))

  /** `<a href>` elements with anchor text: ARRAY<STRUCT<href, anchor>>. */
  def extract_anchors(c: Column): Column = col(ExtractAnchors(expr(c)))

  /** `<link rel=alternate hreflang>` declarations: ARRAY<STRUCT<lang, href>>. */
  def extract_hreflang(c: Column): Column = col(ExtractHreflang(expr(c)))

  /** RFC 3986 resolve(base, href) + canonicalize; NULL for non-http(s). */
  def resolve_url(base: Column, ref: Column): Column =
    col(ResolveUrl(expr(base), expr(ref)))

  /** SRP-LSH bucket of an ARRAY<FLOAT|DOUBLE> vector → INT in [0, 2^bits). */
  def srp_bucket(vec: Column, bits: Int, seed: Int = 7): Column =
    col(SrpBucket(expr(vec), bits, seed))

  /** Page crawl directives: STRUCT(noindex, nofollow, canonical). */
  def page_directives(c: Column): Column = col(PageDirectivesExpr(expr(c)))

  /** Unicode normalization (NFC default; NFD/NFKC/NFKD) — codegen'd. */
  def normalize_unicode(c: Column, form: String = "NFC"): Column =
    col(NormalizeUnicode(expr(c), form))

  /** Distinct token n-gram 64-bit hash keys → ARRAY<BIGINT> (codegen). */
  def ngram_hash_keys(text: Column, n: Int, lowercase: Boolean = true): Column =
    col(NgramHashKeys(expr(text), n, lowercase))

  /** Positional token n-gram hashes (index = token position) → ARRAY<BIGINT>. */
  def ngram_hashes(text: Column, n: Int, lowercase: Boolean = false): Column =
    col(NgramHashes(expr(text), n, lowercase))

  /** ARRAY<TINYINT> → packed BINARY (byte per component) — int8 disk form. */
  def pack_int8(vec: Column): Column = col(PackInt8(expr(vec)))

  /** cosine(packed-int8 BINARY, ARRAY<FLOAT|DOUBLE> query) → DOUBLE. */
  def cosine_int8(bin: Column, vec: Column): Column =
    col(CosineInt8(expr(bin), expr(vec)))

  /** robots.txt body → Crawl-delay in whole seconds (or the default) for the
    * agent — per-row parser surface; crawls parse once into broadcast
    * [[graft.frontier.Robots.FullRules]] instead.
    */
  def robots_gap_seconds(txt: Column, agent: String = "graft",
      defaultGap: Long = 3L): Column =
    col(graft.frontier.RobotsGapSeconds(expr(txt), agent, defaultGap))

  /** Repetition quality signals, one kernel pass per row:
    * STRUCT(n_lines, dup_line_frac, excess_char_frac, top_bigram_frac).
    */
  def repetition_stats(c: Column): Column = col(RepetitionStatsExpr(expr(c)))

  /** Content-type sniff over raw fetched bytes (WHATWG magic-byte subset). */
  def sniff_mime(c: Column): Column = col(SniffMime(expr(c)))

  /** Title + h1..h6 outline: STRUCT(title, h1, …, h6), one kernel pass. */
  def page_outline(c: Column): Column = col(PageOutlineExpr(expr(c)))

  /** Register all functions for SQL use (`SELECT canonicalize_url(url) …`). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("canonicalize_url", es => CanonicalizeUrl(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("host_of", es => HostOf(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("host_reverse", es => HostReverse(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("extract_readable", es => ExtractReadable(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("chunk_text", es => new ChunkText(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("chunk_explode", es => new ChunkGenerator(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hash_embed", es => new HashEmbedExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64", es => SimHash64(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("lang_id", es => LangIdExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("token_count_bpe", es => TokenCountBpe(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("url_path", es => UrlPath(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("extract_links", es => ExtractLinks(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("extract_anchors", es => ExtractAnchors(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("extract_hreflang", es => ExtractHreflang(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("resolve_url", es => ResolveUrl(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("repetition_stats", es => RepetitionStatsExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("pack_int8", es => PackInt8(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("normalize_nfc", es => NormalizeUnicode(es.head, "NFC"), "scala_udf")
    reg.createOrReplaceTempFunction("page_directives", es => PageDirectivesExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_int8", es => CosineInt8(es.head, es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("sniff_mime", es => SniffMime(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("page_outline", es => PageOutlineExpr(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hll_card", es => HllCard(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hll_zeros", es => HllZeros(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hll_m", es => HllM(es.head), "scala_udf")
  }
}

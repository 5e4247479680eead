package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.embed.HashEmbed
import graft.text.{Chunker, HtmlText, TextStats}
import graft.url.UrlKit

/** The kernel calls the custom expressions bind through [[KernelCall]]:
  * whole-stage codegen emits `graft.functions.Impl.xxx(...)` directly, so
  * every custom expression stays inside the codegen'd stage instead of
  * forcing an interpreted fallback — the "native Catalyst Expression beats
  * UDF" rule from the north design. Methods take/return Catalyst internal
  * types (UTF8String, ArrayData) to avoid per-row codec churn.
  */
object Impl {
  def repetitionStats(t: UTF8String): InternalRow = {
    val r = TextStats.repetitionStats(t.toString)
    new GenericInternalRow(
      Array[Any](r.nLines, r.dupLineFrac, r.excessCharFrac, r.topBigramFrac))
  }

  def canonicalizeUrl(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlKit.canonicalize(u.toString))

  def hostOf(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlKit.host(u.toString))

  def hostReverse(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlKit.hostReverse(u.toString))

  def extractReadable(html: UTF8String): UTF8String =
    UTF8String.fromString(HtmlText.extractReadable(html.toString))

  def chunkText(text: UTF8String, maxWords: Int, overlap: Int): ArrayData = {
    val chunks = Chunker.chunk(text.toString, Chunker.Config(maxWords, overlap))
    new GenericArrayData(chunks.map(UTF8String.fromString).toArray[Any])
  }

  def hashEmbed(text: UTF8String, dim: Int): ArrayData =
    ArrayData.toArrayData(HashEmbed.embed(text.toString, dim))

  /** html → (full_text, chunks, embeddings) with the html decoded once and
    * each chunk embedded from its String, not re-decoded per stage.
    */
  def pageResults(html: UTF8String): InternalRow = {
    val text = HtmlText.extractReadable(html.toString)
    val chunks = Chunker.chunk(text)
    new GenericInternalRow(Array[Any](UTF8String.fromString(text),
      new GenericArrayData(chunks.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(chunks.map(c => ArrayData.toArrayData(HashEmbed.embed(c))).toArray[Any])))
  }

  def simHash64(text: UTF8String): Long = TextStats.simHash64(text.toString)

  def minHashSig(text: UTF8String, k: Int, coeffs: Array[(Long, Long)]): ArrayData =
    ArrayData.toArrayData(TextStats.minHashSignature(text.toString, k, coeffs))

  def langId(text: UTF8String): UTF8String =
    UTF8String.fromString(TextStats.langId(text.toString))

  def tokenCountBpe(text: UTF8String): Int = TextStats.tokenCountBpe(text.toString)

  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData =
    ArrayData.toArrayData(TextStats.fingerprints(text.toString, k, w).toArray)

  def urlPath(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlKit.path(u.toString))

  def jaccardShingles(a: UTF8String, b: UTF8String, k: Int): Double =
    TextStats.jaccard(a.toString, b.toString, k)

  def extractLinks(html: UTF8String): ArrayData =
    new GenericArrayData(HtmlText.extractLinks(html.toString).map(UTF8String.fromString).toArray[Any])

  def extractAnchors(html: UTF8String): ArrayData =
    new GenericArrayData(HtmlText.extractAnchors(html.toString).map { case (h, t) =>
      InternalRow(UTF8String.fromString(h), UTF8String.fromString(t))
    }.toArray[Any])

  def hreflangAlternates(html: UTF8String): ArrayData =
    new GenericArrayData(HtmlText.hreflangAlternates(html.toString).map {
      case (l, h) => InternalRow(UTF8String.fromString(l), UTF8String.fromString(h))
    }.toArray[Any])

  def resolveUrl(base: UTF8String, ref: UTF8String): UTF8String = {
    val r = UrlKit.resolve(base.toString, ref.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  /** Token n-gram hash kernel shared by [[NgramHashKeys]] /
    * [[NgramHashes]]: one scan tokenizes (whitespace runs, empties
    * dropped, optional lowercase), per-token FNV-1a 64-bit hashes combine
    * into per-window polynomial hashes — O(chars + windows × n), no
    * string allocation per window. The HOF form of the same computation
    * (transform + slice + concat_ws + xxhash64) runs INTERPRETED and
    * measured ~1.2 ms/doc — 200× this kernel — the same disease the
    * round-3 repetition kernel had. Internal-consistency hash: both sides
    * of any decontamination/dup-span join use this same kernel, so only
    * collision rate matters (64-bit), not parity with any SQL hash.
    */
  private def ngramWindowHashes(text: UTF8String, n: Int,
      lowercase: Boolean): Array[Long] = {
    val raw = text.toString
    val s = if (lowercase) raw.toLowerCase(java.util.Locale.ROOT) else raw
    // token hashes in one pass (FNV-1a over chars, whitespace-run split —
    // the \s+ regex split semantics on the char classes it covers)
    val toks = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < len) {
        var h = 0xcbf29ce484222325L
        while (i < len && !Character.isWhitespace(s.charAt(i))) {
          h = (h ^ s.charAt(i)) * 0x100000001b3L
          i += 1
        }
        toks += h
      }
    }
    val m = toks.length
    if (m < n) return Array.emptyLongArray
    val out = new Array[Long](m - n + 1)
    var p = 0
    while (p <= m - n) {
      var g = 1125899906842597L
      var j = 0
      while (j < n) { g = g * 31L + toks(p + j); j += 1 }
      out(p) = g
      p += 1
    }
    out
  }

  /** DISTINCT window hashes (decontamination side). */
  def ngramHashKeys(text: UTF8String, n: Int, lowercase: Boolean): ArrayData = {
    val ws = ngramWindowHashes(text, n, lowercase)
    if (ws.length <= 1) return ArrayData.toArrayData(ws)
    java.util.Arrays.sort(ws)
    var k = 1
    var i = 1
    while (i < ws.length) {
      if (ws(i) != ws(k - 1)) { ws(k) = ws(i); k += 1 }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(ws, k))
  }

  /** POSITIONAL window hashes, index = token position (dup-span side). */
  def ngramHashes(text: UTF8String, n: Int, lowercase: Boolean): ArrayData =
    ArrayData.toArrayData(ngramWindowHashes(text, n, lowercase))

  /** Left-to-right non-overlapping fuse of adjacent (a, b) symbol pairs —
    * [[BpeMergePair]]. The miss path copies rather than returning the
    * input reference (which may be a view over a reused UnsafeRow buffer).
    */
  def bpeMergePair(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    var hit = false
    var i = 0
    while (i < n - 1 && !hit) {
      if (arr.getUTF8String(i).equals(a) && arr.getUTF8String(i + 1).equals(b)) hit = true
      i += 1
    }
    if (!hit) return arr.copy()
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    i = 0
    while (i < n) {
      if (i < n - 1 && arr.getUTF8String(i).equals(a) && arr.getUTF8String(i + 1).equals(b)) {
        out += UTF8String.concat(a, b)
        i += 2
      } else {
        out += arr.getUTF8String(i)
        i += 1
      }
    }
    ArrayData.toArrayData(out.toArray)
  }

  /** Page crawl directives kernel ([[graft.text.HtmlText.pageDirectives]]):
    * meta-robots noindex/nofollow + rel=canonical, one comment-blind scan.
    */
  def pageDirectives(html: UTF8String): InternalRow = {
    val d = graft.text.HtmlText.pageDirectives(html.toString)
    new GenericInternalRow(Array[Any](d.noindex, d.nofollow,
      UTF8String.fromString(d.canonical)))
  }

  def pageOutline(html: UTF8String): InternalRow = {
    val o = graft.text.HtmlText.outline(html.toString)
    new GenericInternalRow(Array[Any](UTF8String.fromString(o.title),
      o.h(0), o.h(1), o.h(2), o.h(3), o.h(4), o.h(5)))
  }

  /** Unicode normalization (java.text.Normalizer) — NFC by default: the
    * pre-tokenization hygiene step (decomposed é = e + U+0301 must equal
    * composed é for every downstream hash/dedup/count operator).
    */
  def normalizeUnicode(t: UTF8String, form: java.text.Normalizer.Form): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(t.toString, form))

  /** ARRAY<TINYINT> → packed binary, one byte per component (the DISK form
    * of an int8 embedding — Parquet stores tinyint arrays at INT32 physical
    * width, which silently gives back the 4× the quantization won).
    */
  def packInt8(v: ArrayData): Array[Byte] = v.toByteArray()

  /** cosine(packed-int8 vector, float/double query). Sequential double
    * accumulation (deterministic); cosine's scale-invariance is what lets
    * the int8 components rank DIRECTLY, no dequantization.
    */
  def cosineInt8(bin: Array[Byte], q: ArrayData, elemIsDouble: Boolean): Double = {
    val n = math.min(bin.length, q.numElements())
    var dot = 0.0d
    var i = 0
    while (i < n) {
      val x = if (elemIsDouble) q.getDouble(i) else q.getFloat(i).toDouble
      dot += bin(i).toDouble * x
      i += 1
    }
    var nb = 0.0d; i = 0
    while (i < bin.length) { val b = bin(i).toDouble; nb += b * b; i += 1 }
    var nq = 0.0d; i = 0
    val m = q.numElements()
    while (i < m) {
      val x = if (elemIsDouble) q.getDouble(i) else q.getFloat(i).toDouble
      nq += x * x; i += 1
    }
    if (nb == 0.0d || nq == 0.0d) 0.0d
    else dot / (math.sqrt(nb) * math.sqrt(nq))
  }
}

/** Sign-random-projection bucketing with the ±1 hyperplane matrix
  * PRECOMPUTED once per (bits, seed, dim) and cached per JVM — the codegen
  * path does `dim` float fmas per bit instead of `dim` murmur hashes per bit
  * per row (the round-1 udf recomputed bits×dim hashes for every row).
  * Bit-for-bit identical to `SrpReference.srpBucket`, the test-scope spec
  * twin the tests compare against.
  */
object SrpEval {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Boolean]]]()

  private[functions] def signs(bits: Int, seed: Int, dim: Int): Array[Array[Boolean]] =
    cache.computeIfAbsent((bits, seed, dim), { key =>
      val (b, s, d) = key
      Array.tabulate(b, d)((bb, i) =>
        scala.util.hashing.MurmurHash3.productHash((bb, i), s) >= 0)
    })

  def bucket(v: ArrayData, bits: Int, seed: Int, elemIsDouble: Boolean): Int = {
    val dim = v.numElements()
    val sg = signs(bits, seed, dim)
    var bucket = 0
    var b = 0
    while (b < bits) {
      val row = sg(b)
      var dot = 0.0
      var i = 0
      while (i < dim) {
        val x = if (elemIsDouble) v.getDouble(i) else v.getFloat(i).toDouble
        dot += (if (row(i)) x else -x)
        i += 1
      }
      if (dot >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }
}

/** RFC 3986 canonicalization (SURVEY.md §2.3). String → String, null-safe. */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "canonicalizeUrl", child)
  override protected def withNewChildInternal(c: Expression): CanonicalizeUrl = copy(c)
  override def prettyName: String = "canonicalize_url"
}

/** Host of a URL ("" if unparseable). */
case class HostOf(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "hostOf", child)
  override protected def withNewChildInternal(c: Expression): HostOf = copy(c)
  override def prettyName: String = "host_of"
}

/** SURT-style host reversal (input = a host, not a URL). */
case class HostReverse(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "hostReverse", child)
  override protected def withNewChildInternal(c: Expression): HostReverse = copy(c)
  override def prettyName: String = "host_reverse"
}

/** Content-type sniff over fetched bytes (WHATWG magic-byte subset;
  * [[graft.multimodal.Mime]]). Binary in, mime string out.
  */
case class SniffMime(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(graft.multimodal.Mime, "sniff", child)
  override protected def withNewChildInternal(c: Expression): SniffMime = copy(c)
  override def prettyName: String = "sniff_mime"
}

/** Full text invariant: extract + preprocess (reference `:72-99`). */
case class ExtractReadable(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "extractReadable", child)
  override protected def withNewChildInternal(c: Expression): ExtractReadable = copy(c)
  override def prettyName: String = "extract_readable"
}

/** The reference's per-URL contract (`:186-233`) as ONE expression:
  * html → STRUCT(full_text, chunks, embeddings), the same values as
  * `extract_readable`, `chunk_text` and `hash_embed` over every chunk.
  * One call per row decodes the html once and hands Strings between the
  * stages, and needs no `transform(chunks, hash_embed)` (Spark runs
  * `ArrayTransform` interpreted: it is `CodegenFallback`).
  */
case class PageResults(child: Expression) extends UnaryExpression with KernelCall {
  override val dataType: DataType = StructType(Seq(
    StructField("full_text", StringType, nullable = false),
    StructField("chunks", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("embeddings", ArrayType(ArrayType(FloatType, containsNull = false),
      containsNull = false), nullable = false)))
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "pageResults", child)
  override protected def withNewChildInternal(c: Expression): PageResults = copy(c)
  override def prettyName: String = "page_results"
}

/** Hybrid chunker as a scalar expression: String → ARRAY<STRING>. */
case class ChunkText(child: Expression, maxWords: Int, overlapWords: Int)
    extends UnaryExpression with KernelCall {
  def this(child: Expression) = this(child, Chunker.MaxWords, Chunker.OverlapWords)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "chunkText", child, Literal(maxWords), Literal(overlapWords))
  override protected def withNewChildInternal(c: Expression): ChunkText =
    copy(child = c)
  override def prettyName: String = "chunk_text"
}

/** Hashed-token-frequency embedding: String → ARRAY<FLOAT> (dim entries). */
case class HashEmbedExpr(child: Expression, dim: Int)
    extends UnaryExpression with KernelCall {
  def this(child: Expression) = this(child, HashEmbed.Dim)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "hashEmbed", child, Literal(dim))
  override protected def withNewChildInternal(c: Expression): HashEmbedExpr =
    copy(child = c)
  override def prettyName: String = "hash_embed"
}

/** SimHash: String → 64-bit signature. */
case class SimHash64(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "simHash64", child)
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
  override def prettyName: String = "simhash64"
}

/** MinHash signature: String → ARRAY<BIGINT> (numHashes entries). The
  * coefficient table is built once per expression and rides the call as a
  * constant.
  */
case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "minHashSig", child,
    Literal(shingleK), const(TextStats.minHashCoeffs(numHashes)))
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** Language-ID heuristic: String → lang code. */
case class LangIdExpr(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "langId", child)
  override protected def withNewChildInternal(c: Expression): LangIdExpr = copy(c)
  override def prettyName: String = "lang_id"
}

/** Repetition quality signals: String → STRUCT(n_lines INT, dup_line_frac
  * DOUBLE, excess_char_frac DOUBLE, top_bigram_frac DOUBLE), one kernel
  * pass per row inside whole-stage codegen. (The Column-composition form
  * of these signals is an interpreted O(tokens²·distinct) trap — see
  * [[graft.text.TextStats.repetitionStats]].)
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = RepetitionStatsExpr.Schema
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "repetitionStats", child)
  override protected def withNewChildInternal(c: Expression): RepetitionStatsExpr = copy(c)
  override def prettyName: String = "repetition_stats"
}

object RepetitionStatsExpr {
  val Schema: StructType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("excess_char_frac", DoubleType, nullable = false),
    StructField("top_bigram_frac", DoubleType, nullable = false)))
}

/** BPE-ish token count: String → Int. */
case class TokenCountBpe(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "tokenCountBpe", child)
  override protected def withNewChildInternal(c: Expression): TokenCountBpe = copy(c)
  override def prettyName: String = "token_count_bpe"
}

/** Winnowing fingerprints: String → ARRAY<BIGINT>. */
case class Fingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "fingerprints", child, Literal(k), Literal(w))
  override protected def withNewChildInternal(c: Expression): Fingerprints =
    copy(child = c)
  override def prettyName: String = "fingerprints"
}

/** Lateral-view form of the chunker: one output row per chunk with its
  * position — `SELECT url, c.chunk_id, c.chunk FROM pages LATERAL VIEW
  * chunk_explode(text) c`. Equivalent to posexplode(chunk_text(x)) but emits
  * rows directly without materializing the array.
  */
case class ChunkGenerator(child: Expression, maxWords: Int, overlapWords: Int)
    extends UnaryExpression with Generator with CodegenFallback {
  def this(child: Expression) = this(child, Chunker.MaxWords, Chunker.OverlapWords)

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val chunks = Chunker.chunk(v.asInstanceOf[UTF8String].toString,
        Chunker.Config(maxWords, overlapWords))
      chunks.iterator.zipWithIndex.map { case (c, i) =>
        InternalRow(i, UTF8String.fromString(c))
      }.toSeq
    }
  }

  override protected def withNewChildInternal(c: Expression): ChunkGenerator =
    copy(child = c)
  override def prettyName: String = "chunk_explode"
}

/** Path component of a URL ("/" when empty or unparseable) — the robots
  * matching key. Parser-backed, so a '?' before the first '/' never leaks
  * query bytes into the path.
  */
case class UrlPath(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "urlPath", child)
  override protected def withNewChildInternal(c: Expression): UrlPath = copy(c)
  override def prettyName: String = "url_path"
}

/** Exact k-word-shingle Jaccard between two texts — the LSH verifier kernel
  * as a binary expression (was a udf in round 1).
  */
case class JaccardShingles(left: Expression, right: Expression, shingleK: Int)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "jaccardShingles", left, right, Literal(shingleK))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardShingles =
    copy(left = l, right = r)
  override def prettyName: String = "jaccard_shingles"
}

/** All `<a href>` targets of an HTML document, in document order (raw
  * attribute values, entities decoded; resolution/canonicalization is a
  * separate expression so the pieces stay individually testable).
  */
case class ExtractLinks(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "extractLinks", child)
  override protected def withNewChildInternal(c: Expression): ExtractLinks = copy(c)
  override def prettyName: String = "extract_links"
}

/** `<a href>` elements with their anchor text, in document order:
  * ARRAY<STRUCT<href, anchor>>. The anchor-text twin of [[ExtractLinks]]
  * (same comment-blind/raw-text-aware scanner; implicit close on nested
  * opens, inner tags stripped, entities decoded, `\s` runs collapsed) —
  * feeds the per-target anchor aggregation ([[graft.frontier.Anchors]]).
  */
case class ExtractAnchors(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "extractAnchors", child)
  override protected def withNewChildInternal(c: Expression): ExtractAnchors = copy(c)
  override def prettyName: String = "extract_anchors"
}

/** `<link rel="alternate" hreflang href>` declarations in document order:
  * ARRAY<STRUCT<lang, href>> — the multilingual alternate graph
  * ([[graft.text.HtmlText.hreflangAlternates]]'s scanner).
  */
case class ExtractHreflang(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("href", StringType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "hreflangAlternates", child)
  override protected def withNewChildInternal(c: Expression): ExtractHreflang = copy(c)
  override def prettyName: String = "extract_hreflang"
}

/** RFC 3986 §5.2 reference resolution + canonicalization: (base, href) →
  * canonical absolute URL, or NULL for non-crawlable schemes (mailto:,
  * javascript:, …) so a downstream filter drops them by null semantics.
  */
case class ResolveUrl(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "resolveUrl", left, right)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ResolveUrl =
    copy(left = l, right = r)
  override def prettyName: String = "resolve_url"
}

/** Sign-random-projection LSH bucket (Charikar '02): ARRAY<FLOAT|DOUBLE> →
  * INT bucket in [0, 2^bits). Hyperplanes precomputed per (bits, seed, dim)
  * — see [[SrpEval]].
  */
case class SrpBucket(child: Expression, bits: Int, seed: Int)
    extends UnaryExpression with KernelCall {
  require(bits >= 1 && bits <= 30, s"bits out of range: $bits")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(SrpEval, "bucket", child,
    Literal(bits), Literal(seed), Literal(elemIsDouble(child)))
  override protected def withNewChildInternal(c: Expression): SrpBucket =
    copy(child = c)
  override def prettyName: String = "srp_bucket"
}

/** Page-level crawl directives of an HTML column →
  * STRUCT(noindex BOOLEAN, nofollow BOOLEAN, canonical STRING) — the
  * meta-robots / rel-canonical signals a polite crawler must honor
  * ([[Impl.pageDirectives]]); one scan per row.
  */
case class PageDirectivesExpr(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = PageDirectivesExpr.Schema
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "pageDirectives", child)
  override protected def withNewChildInternal(c: Expression): PageDirectivesExpr =
    copy(c)
  override def prettyName: String = "page_directives"
}

object PageDirectivesExpr {
  val Schema: StructType = StructType(Seq(
    StructField("noindex", BooleanType, nullable = false),
    StructField("nofollow", BooleanType, nullable = false),
    StructField("canonical", StringType, nullable = false)))
}

/** Title + h1..h6 outline of a page, one kernel pass
  * ([[graft.text.HtmlText.outline]]).
  */
case class PageOutlineExpr(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = PageOutlineExpr.Schema
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "pageOutline", child)
  override protected def withNewChildInternal(c: Expression): PageOutlineExpr =
    copy(c)
  override def prettyName: String = "page_outline"
}

object PageOutlineExpr {
  val Schema: StructType = StructType(
    StructField("title", StringType, nullable = false) +:
    (1 to 6).map(k => StructField(s"h$k", IntegerType, nullable = false)))
}

/** Unicode normalization of a text column (NFC/NFD/NFKC/NFKD)
  * ([[Impl.normalizeUnicode]]); NFC is cross-engine replayable
  * (DuckDB `nfc_normalize`), which is what q62's oracle checks.
  */
case class NormalizeUnicode(child: Expression, form: String)
    extends UnaryExpression with KernelCall {
  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form), s"form: $form")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "normalizeUnicode", child,
    const(java.text.Normalizer.Form.valueOf(form)))
  override protected def withNewChildInternal(c: Expression): NormalizeUnicode =
    copy(child = c)
  override def prettyName: String = "normalize_unicode"
}

/** Distinct token-n-gram 64-bit hash keys of a text column →
  * ARRAY<BIGINT> ([[Impl.ngramHashKeys]]); no per-window string
  * allocation.
  */
case class NgramHashKeys(child: Expression, n: Int, lowercase: Boolean)
    extends UnaryExpression with KernelCall {
  require(n >= 1, s"n: $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "ngramHashKeys", child, Literal(n), Literal(lowercase))
  override protected def withNewChildInternal(c: Expression): NgramHashKeys =
    copy(child = c)
  override def prettyName: String = "ngram_hash_keys"
}

/** Positional token-n-gram hashes (index = starting token position) →
  * ARRAY<BIGINT> ([[Impl.ngramHashes]]).
  */
case class NgramHashes(child: Expression, n: Int, lowercase: Boolean)
    extends UnaryExpression with KernelCall {
  require(n >= 1, s"n: $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "ngramHashes", child, Literal(n), Literal(lowercase))
  override protected def withNewChildInternal(c: Expression): NgramHashes =
    copy(child = c)
  override def prettyName: String = "ngram_hashes"
}

/** One BPE merge applied to a symbol array: fuse adjacent (a, b) pairs
  * left-to-right, non-overlapping ("aaa" + merge(a,a) → ["aa","a"]) —
  * the inner step of [[graft.text.Bpe.train]], run once per word per
  * round, so it must stay inside codegen ([[Impl.bpeMergePair]]). The
  * pair constants are string literals of the call (stage references, no
  * string-literal escaping in generated code).
  */
case class BpeMergePair(child: Expression, a: String, b: String)
    extends UnaryExpression with KernelCall {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "bpeMergePair", child, Literal(a), Literal(b))
  override protected def withNewChildInternal(c: Expression): BpeMergePair =
    copy(child = c)
  override def prettyName: String = "bpe_merge_pair"
}

/** ARRAY<TINYINT> → BINARY byte-per-component packing ([[Impl.packInt8]]). */
case class PackInt8(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(Impl, "packInt8", child)
  override protected def withNewChildInternal(c: Expression): PackInt8 = copy(child = c)
  override def prettyName: String = "pack_int8"
}

/** cosine(packed-int8 BINARY, ARRAY<FLOAT|DOUBLE>) → DOUBLE
  * ([[Impl.cosineInt8]]); the probe-side scorer of the int8 IVF layout.
  */
case class CosineInt8(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression =
    static(Impl, "cosineInt8", left, right, Literal(elemIsDouble(right)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineInt8 =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_int8"
}

/** IVF cell probe: ARRAY<FLOAT|DOUBLE> vector → the `nProbe` nearest
  * centroid ids (cosine order, best first) against a broadcast centroid
  * matrix ([[graft.ann.IvfCentroids]]). nProbe=1 is the corpus-side cell
  * assignment; queries probe several cells.
  */
case class IvfCells(cents: graft.ann.IvfCentroids, child: Expression, nProbe: Int)
    extends UnaryExpression with KernelCall {
  require(nProbe >= 1, s"nProbe: $nProbe")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(IvfEval, "cells", const(cents), child,
    Literal(nProbe), Literal(elemIsDouble(child)))
  override protected def withNewChildInternal(c: Expression): IvfCells =
    copy(child = c)
  override def prettyName: String = "ivf_cells"
}

object IvfEval {
  def cells(cents: graft.ann.IvfCentroids, v: ArrayData, nProbe: Int,
      elemIsDouble: Boolean): ArrayData = {
    val dim = v.numElements()
    val arr = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      arr(i) = if (elemIsDouble) v.getDouble(i).toFloat else v.getFloat(i)
      i += 1
    }
    ArrayData.toArrayData(graft.ann.IvfCentroids.topCells(cents.mat, arr, nProbe))
  }
}

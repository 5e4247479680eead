package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import graft.ann.{Pq, PqEncode}
import graft.frontier.Robots
import graft.functions._

/** Custom-expression surface: Column API, SQL registration, codegen path,
  * generator, bloom aggregate — each compared against its pure-Scala twin.
  */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sampleDf = Seq(
    ("HTTP://Ex.COM:80/a/./b?q=%7E1#f", "<h1>T</h1><p>a  b</p><script>x</script>"),
    ("https://a.b.c/z", "<ul><li>q<ul><li>r</li></ul></li></ul>"))
    .toDF("url", "html")

  /** Kernel inputs staged to parquet, so the kernels run over a file scan
    * (a local `Seq.toDF` is folded by ConvertToLocalRelation with an
    * interpreted projection and never reaches codegen): messy, upper-case
    * IDN and non-ASCII urls, html with every construct the html kernels
    * read, non-ASCII and decomposed text, vectors and sketch images — and
    * one all-null row.
    */
  private lazy val staged: DataFrame = {
    val html = """<html lang="de"><head><title>Grüße — naïve</title>
      |<meta name="robots" content="NOINDEX, follow">
      |<link rel="canonical" href="/Kanon">
      |<link rel="alternate" hreflang="fr" href="https://ex.fr/a"></head>
      |<body><h1>Café</h1><h2>x</h2><p>Ünïcödé   text &amp; more</p>
      |<a href="/abs/Ü">anchor one</a> <a href='rel/y'>two</a>
      |<a href="mailto:u@h.t">drop</a><script>var x = "<a href=/no>";</script>
      |</body></html>""".stripMargin
    def image(agg: Column) = keys.agg(agg).head().getAs[Array[Byte]](0)
    val cms = image(cms_agg(col("k"), 4, 64))
    val hll = image(hll_agg(col("k"), 6))
    val rows = Seq(
      Row(0L, "HTTP://Ex.COM:80/a/./b?q=%7E1#f", "<p>a  b</p><script>x</script>",
        "the cat sat on the mat, the cat sat", "the cat sat on a hat", Array[Byte](-119, 80, 78, 71),
        Seq(0.5f, -1f, 2f, 0.25f), Seq[Byte](1, -2, 3, 4), Seq("a", "b", "a", "b"),
        "User-agent: *\nDisallow: /private\nCrawl-delay: 2.4", "/private/x", 7919L, cms, hll),
      Row(1L, "HTTP://BÜCHER.Example/Straße?x=ä#frag", html,
        "Cafe\u0301 naïve Grüße — \u00e9t\u00e9 ﬁ", "Café naïve", "<!DOCTYPE html>".getBytes("UTF-8"),
        Seq(-1f, 0.5f, 0.5f, 3f), Seq[Byte](-128, 0, 127, 5), Seq("ü", "ß", "ü", "ß"),
        "User-agent: graft\nAllow: /private/ok\nDisallow: /", "/private/ok", 123L, cms, hll),
      Row(2L, "https://XN--BCHER-KVA.example/Ä/../b", "", "", "x", Array.emptyByteArray,
        Seq(0f, 0f, 0f, 0f), Seq[Byte](0, 0, 0, 0), Seq.empty[String], "", "mailto:u@h.t", 0L,
        cms, hll),
      Row.fromSeq(3L +: Seq.fill(13)(null)))
    val schema = StructType(Seq(StructField("id", LongType, nullable = false)) ++ Seq(
      "url" -> StringType, "html" -> StringType, "text" -> StringType, "text2" -> StringType,
      "raw" -> BinaryType, "vec" -> ArrayType(FloatType), "i8" -> ArrayType(ByteType),
      "syms" -> ArrayType(StringType, containsNull = false), "robots" -> StringType,
      "path" -> StringType, "key" -> LongType, "cms" -> BinaryType, "hll" -> BinaryType).map { case (n, t) => StructField(n, t) })
    val dir = java.nio.file.Files.createTempDirectory("kernels").toString + "/in"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private lazy val keys = (0L until 50L).map(_ * 7919L).toDF("k")

  /** Every custom scalar kernel — registerAll's and the Column-only ones —
    * by output name, over the staged columns.
    */
  private lazy val kernels: Seq[(String, Column)] = {
    val sc = spark.sparkContext
    def e(c: Column) = Bridge.expression(c)
    def k(x: Expression) = Bridge.column(x)
    val blooms = keys.agg(bloom_bank_agg(col("k"), 2, 100L)).head().getSeq[Array[Byte]](0)
    val cuckoos = keys.agg(sketch_agg(col("k"), BankSketch(CuckooFamily, 2, 100L, 0.0)))
      .head().getSeq[Array[Byte]](0)
    val bucket = e(pmod(col("key"), lit(2)).cast("int"))
    val cents = new graft.ann.IvfCentroids(sc.broadcast(Array(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))))
    val books = new graft.ann.PqBooks(sc.broadcast(Array(
      Array(Array(1f, 0f), Array(0f, 1f)), Array(Array(1f, 1f), Array(-1f, 0f)))))
    val codes = k(PqEncode(books, e(col("vec"))))
    val rules = Robots.parseAll(Map("ex.com" -> "User-agent: *\nDisallow: /private\nCrawl-delay: 5"))
    Seq(
      "canonicalize_url" -> canonicalize_url(col("url")),
      "host_of" -> host_of(col("url")),
      "host_reverse" -> host_reverse(host_of(col("url"))),
      "sniff_mime" -> sniff_mime(col("raw")),
      "extract_readable" -> extract_readable(col("html")),
      "page_results" -> page_results(col("html")),
      "chunk_text" -> chunk_text(col("text"), 3, 1),
      "hash_embed" -> hash_embed(col("text"), 16),
      "simhash64" -> simhash64(col("text")),
      "minhash_sig" -> minhash_sig(col("text"), 2, 8),
      "lang_id" -> lang_id(col("text")),
      "repetition_stats" -> repetition_stats(col("text")),
      "token_count_bpe" -> token_count_bpe(col("text")),
      "fingerprints" -> fingerprints(col("text"), 3, 2),
      "url_path" -> url_path(col("url")),
      "jaccard_shingles" -> jaccard_shingles(col("text"), col("text2"), 2),
      "extract_links" -> extract_links(col("html")),
      "extract_anchors" -> extract_anchors(col("html")),
      "extract_hreflang" -> extract_hreflang(col("html")),
      "resolve_url" -> resolve_url(col("url"), col("path")),
      "srp_bucket" -> srp_bucket(col("vec"), 4, 7),
      "page_directives" -> page_directives(col("html")),
      "page_outline" -> page_outline(col("html")),
      "normalize_unicode" -> normalize_unicode(col("text")),
      "normalize_nfkc" -> normalize_unicode(col("text"), "NFKC"),
      "ngram_hash_keys" -> ngram_hash_keys(col("text"), 2),
      "ngram_hashes" -> ngram_hashes(col("text"), 2),
      "bpe_merge_pair" -> k(BpeMergePair(e(col("syms")), "a", "b")),
      "pack_int8" -> pack_int8(col("i8")),
      "cosine_int8" -> cosine_int8(pack_int8(col("i8")), col("vec")),
      "ivf_cells" -> k(IvfCells(cents, e(col("vec")), 2)),
      "pq_encode" -> codes,
      "pq_adc_table" -> Pq.adcTable(books, col("vec")),
      "pq_adc" -> Pq.adcScore(Pq.adcTable(books, col("vec")), codes, 2),
      "hll_card" -> hll_card(col("hll")),
      "hll_zeros" -> hll_zeros(col("hll")),
      "hll_m" -> hll_m(col("hll")),
      "cms_estimate" -> cms_estimate(col("cms"), col("key")),
      "bloom_bank_probe" -> k(BloomBankProbe(new BloomBank(sc.broadcast(
        blooms.zipWithIndex.map { case (b, i) => (i, b) }.toArray)), bucket, e(col("key")))),
      "cuckoo_bank_probe" -> k(CuckooBankProbe(new CuckooBank(sc.broadcast(
        cuckoos.zipWithIndex.map { case (b, i) => (i, b) }.toArray)), bucket, e(col("key")))),
      "robots_allowed_full" -> Robots.allowedColFull(spark, rules, col("url")),
      "robots_gap" -> Robots.gapColFull(spark, rules, host_of(col("url"))),
      "robots_gap_seconds" -> robots_gap_seconds(col("robots")))
  }

  /** Pure-Scala twins: kernel name → staged input row → expected value. */
  private val twins: Map[String, Row => Any] = {
    import graft.text.{Chunker, HtmlText, TextStats}
    import graft.url.UrlKit
    def s(c: String)(r: Row) = r.getAs[String](c)
    def text(r: Row) = s("text")(r)
    Map(
      "canonicalize_url" -> (r => UrlKit.canonicalize(s("url")(r))),
      "host_of" -> (r => UrlKit.host(s("url")(r))),
      "host_reverse" -> (r => UrlKit.hostReverse(UrlKit.host(s("url")(r)))),
      "url_path" -> (r => UrlKit.path(s("url")(r))),
      "resolve_url" -> (r => UrlKit.resolve(s("url")(r), s("path")(r))),
      "sniff_mime" -> (r => graft.multimodal.Mime.sniffBytes(r.getAs[Array[Byte]]("raw"))),
      "extract_readable" -> (r => HtmlText.extractReadable(s("html")(r))),
      "extract_links" -> (r => HtmlText.extractLinks(s("html")(r))),
      "page_results" -> { r =>
        val t = HtmlText.extractReadable(s("html")(r))
        val cs = Chunker.chunk(t)
        Row(t, cs, cs.map(c => graft.embed.HashEmbed.embed(c).toSeq))
      },
      "chunk_text" -> (r => Chunker.chunk(text(r), Chunker.Config(3, 1))),
      "hash_embed" -> (r => graft.embed.HashEmbed.embed(text(r), 16).toSeq),
      "simhash64" -> (r => TextStats.simHash64(text(r))),
      "minhash_sig" -> (r =>
        TextStats.minHashSignature(text(r), 2, TextStats.minHashCoeffs(8)).toSeq),
      "lang_id" -> (r => TextStats.langId(text(r))),
      "token_count_bpe" -> (r => TextStats.tokenCountBpe(text(r))),
      "fingerprints" -> (r => TextStats.fingerprints(text(r), 3, 2)),
      "jaccard_shingles" -> (r => TextStats.jaccard(text(r), s("text2")(r), 2)),
      "normalize_unicode" -> (r =>
        java.text.Normalizer.normalize(text(r), java.text.Normalizer.Form.NFC)),
      "srp_bucket" -> (r =>
        SrpReference.srpBucket(r.getAs[Seq[Float]]("vec").toArray, 4, 7)),
      "robots_gap_seconds" -> (r => Robots.gapSecondsOf(s("robots")(r), "graft", 3L)))
  }

  private def withConf[A](kv: Map[String, String])(f: => A): A = {
    val old = kv.keys.map(k => k -> spark.conf.getOption(k))
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("expressions match their pure-Scala twins (interpreted + codegen)") {
    // interpreted: no whole-stage codegen and interpreted projections, so
    // every kernel runs its eval; codegen: generated code only, with the
    // interpreted fallback off, so a call that does not compile fails here
    val modes = Seq(
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
      "codegen" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"))
    val inputs = staged.collect().sortBy(_.getLong(0))
    assert(inputs.length == 4 && kernels.map(_._1).toSet.size == kernels.size)
    val got = modes.map { case (mode, conf) => withConf(conf) {
      val df = staged.select(col("id") +: kernels.map { case (n, c) => c.as(n) }: _*)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(") == (mode == "codegen"), s"$mode plan:\n$plan")
      val rows = df.collect().sortBy(_.getLong(0))
      for ((in, out) <- inputs.zip(rows); (name, _) <- kernels) {
        val v = out.getAs[Any](name)
        if (in.isNullAt(1)) assert(v == null, s"$mode $name: null in, $v out")
        else twins.get(name).foreach { twin =>
          assert(v == twin(in), s"$mode $name on row ${in.getLong(0)}")
        }
      }
      rows.toSeq
    } }
    assert(got(0) == got(1), "interpreted and generated results differ")
  }

  test("null propagation") {
    val df = Seq((null: String, 1)).toDF("s", "i")
    val r = df.select(canonicalize_url(col("s")), extract_readable(col("s")),
      chunk_text(col("s")), hash_embed(col("s")), simhash64(col("s"))).collect()(0)
    assert((0 until 5).forall(r.isNullAt))
  }

  test("SQL registration: expressions callable from spark.sql") {
    registerAll(spark)
    sampleDf.createOrReplaceTempView("sample")
    val got = spark.sql(
      """SELECT canonicalize_url(url) cu, extract_readable(html) t,
        |       token_count_bpe(url) tc FROM sample""".stripMargin).collect()
    assert(got(0).getAs[String]("cu") ==
      graft.url.UrlKit.canonicalize("HTTP://Ex.COM:80/a/./b?q=%7E1#f"))
  }

  test("chunk generator == chunk_text array explode") {
    val docs = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" ")))
      .toDF("id", "text")
    val viaGen = docs.select(col("id"), chunk_explode(col("text"), 30, 5).as(Seq("cid", "c")))
      .orderBy("id", "cid").select("c").as[String].collect().toSeq
    val viaArray = docs.select(col("id"), posexplode(chunk_text(col("text"), 30, 5)).as(Seq("cid", "c")))
      .orderBy("id", "cid").select("c").as[String].collect().toSeq
    val direct = graft.text.Chunker.chunk((1 to 100).map(i => s"w$i").mkString(" "),
      graft.text.Chunker.Config(30, 5))
    assert(viaGen == direct)
    assert(viaArray == direct)
  }

  test("hash_embed: unit norm, fixed dim, deterministic") {
    val r = Seq(("a b c a", 1)).toDF("t", "i")
      .select(hash_embed(col("t")).as("e")).as[Seq[Float]].collect()(0)
    assert(r.length == 384)
    val norm = math.sqrt(r.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(r == graft.embed.HashEmbed.embed("a b c a").toSeq)
  }

  test("minhash_sig matches TextStats") {
    val t = (1 to 50).map(i => s"s$i").mkString(" ")
    val got = Seq((t, 1)).toDF("t", "i")
      .select(minhash_sig(col("t"), 3, 16).as("s")).as[Seq[Long]].collect()(0)
    val want = graft.text.TextStats.minHashSignature(t, 3,
      graft.text.TextStats.minHashCoeffs(16)).toSeq
    assert(got == want)
  }

  test("bloom agg + might_contain over grouped keys") {
    val df = spark.range(1000)
      .select((col("id") % 4).as("g"), xxhash64(col("id").cast("string")).as("k"))
    // one single-bucket bank per group
    val blooms = df.groupBy("g").agg(bloom_bank_agg(col("k"), 1, 1000, 1e-3)(0).as("bloom"))
    assert(blooms.count() == 4)
    // probe group-0 keys against group-0 bloom on the driver: all present
    val b0 = org.apache.spark.util.sketch.BloomFilter.readFrom(
      blooms.where(col("g") === 0).collect()(0).getAs[Array[Byte]]("bloom"))
    val missed = df.where(col("g") === 0).select("k").as[Long].collect()
      .count(k => !b0.mightContainLong(k))
    assert(missed == 0)
  }

  test("sketch aggregates equal a driver-side fold over any partitioning") {
    import org.apache.spark.util.sketch.BloomFilter
    // keys with nulls and vectors with nulls, the vectors' sums exact in
    // any order (quarters), so every image can be compared byte for byte
    val rows = (0 until 2000).map { i =>
      Row(if (i % 13 == 0) null else i * 0x9E3779B97F4A7C15L,
        if (i % 11 == 0) null else Seq.tabulate(4)(j => ((i + j) % 8) * 0.25f))
    }
    val all = spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("k", LongType), StructField("v", ArrayType(FloatType)))))
    val ks = rows.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    val vs = rows.flatMap(r => Option(r.getSeq[Float](1)))
    // the driver-side folds, through each sketch's own Scala code
    def bloom(keys: Seq[Long]) = {
      val fs = Array.fill(4)(BloomFilter.create(2000, 1e-2))
      keys.foreach(k => fs(java.lang.Math.floorMod(k, 4L).toInt).putLong(k))
      fs.toSeq.map { f =>
        val out = new java.io.ByteArrayOutputStream(); f.writeTo(out); out.toByteArray.toSeq
      }
    }
    def cms(keys: Seq[Long]) = {
      val c = new Array[Long](4 * 64)
      for (k <- keys; d <- 0 until 4) c(d * 64 + CmSketch.rowIndex(k, d, 64)) += 1
      CmSketch.serialize(4, 64, c).toSeq
    }
    def hll(keys: Seq[Long]) = {
      val r = new Array[Byte](64)
      keys.foreach(HllSketch.add(r, 6, _))
      HllSketch.serialize(6, r).toSeq
    }
    def vecSum(v: Seq[Seq[Float]]) =
      if (v.isEmpty) Seq.empty[Double]
      else v.map(_.map(_.toDouble)).reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    def images(df: DataFrame, parts: Int) = {
      val in = df.repartition(parts)
      val r = in.agg(bloom_bank_agg(col("k"), 4, 2000), cms_agg(col("k"), 4, 64),
        hll_agg(col("k"), 6), vec_sum_agg(col("v"))).head()
      // per-group images plus a null image, merged over `parts` partitions
      val groups = in.groupBy(pmod(col("k"), lit(5))).agg(hll_agg(col("k"), 6).as("h"))
        .select("h").unionByName(spark.range(1).select(lit(null).cast("binary").as("h")))
      val merged = groups.repartition(parts).agg(hll_merge_agg(col("h"))).head()
      (r.getSeq[Array[Byte]](0).map(_.toSeq), r.getAs[Array[Byte]](1).toSeq,
        r.getAs[Array[Byte]](2).toSeq, r.getSeq[Double](3), Option(merged.getAs[Array[Byte]](0)).map(_.toSeq))
    }
    for (parts <- Seq(1, 8))
      assert(images(all, parts) == ((bloom(ks), cms(ks), hll(ks), vecSum(vs), Some(hll(ks)))),
        s"$parts partitions")
    assert(images(all.where(lit(false)), 8) ==
      ((bloom(Nil), cms(Nil), hll(Nil), Seq.empty[Double], None)), "empty input")
    // the cuckoo bank's layout depends on merge order, its answers do not
    val cuckoo = BankSketch(CuckooFamily, 4, 2000, 0.0)
    val probes = ks ++ (0 until 3000).map(i => i * 31L + 7)
    val answers = Seq(1, 8).map { parts =>
      val fs = all.repartition(parts).agg(sketch_agg(col("k"), cuckoo)).head()
        .getSeq[Array[Byte]](0).map(CuckooFamily.decode)
      def has(k: Long) = CuckooFamily.contains(fs(java.lang.Math.floorMod(k, 4L).toInt), k)
      assert(ks.forall(has), s"false negative at $parts partitions")
      probes.map(has)
    }
    assert(answers(0) == answers(1))
  }

  test("srp_bucket expression == HashEmbed.srpBucket spec twin") {
    val vecs = (0 until 50).map { i =>
      val rnd = new scala.util.Random(77 + i)
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1).toSeq)
    }
    val df = vecs.toDF("id", "v")
    for ((bits, seed) <- Seq((4, 7), (8, 7), (6, 13))) {
      val got = df.select(col("id"), srp_bucket(col("v"), bits, seed).as("b"))
        .as[(Long, Int)].collect().toMap
      for ((id, v) <- vecs)
        assert(got(id) == SrpReference.srpBucket(v.toArray, bits, seed),
          s"id=$id bits=$bits seed=$seed")
    }
  }

  test("extract_links + resolve_url: discovery hop end to end") {
    val html = """<html><body>
      |<a href="/abs/x">a</a>
      |<p>noise</p><a class="c" HREF='rel/y'>b</a>
      |<a href="http://Other.test:80/z#f">c</a>
      |<a href="mailto:u@h.t">drop</a>
      |<a name="anchor-only">no href</a>
      |<a href="next?p=2">d</a>
      |<a href=/bare/sub.html>e</a>
      |</body></html>""".stripMargin
    val df = Seq(("http://h.test/dir/page", html)).toDF("url", "html")
    val links = df.select(explode(extract_links(col("html"))).as("href"))
      .select(resolve_url(lit("http://h.test/dir/page"), col("href")).as("u"))
      .where(col("u").isNotNull)
      .as[String].collect().toSeq
    assert(links == Seq(
      "http://h.test/abs/x",
      "http://h.test/dir/rel/y",
      "http://other.test/z",
      "http://h.test/dir/next?p=2",
      "http://h.test/bare/sub.html"))
    // kernel twin — note the UNQUOTED href keeps its slashes (HTML5
    // unquoted-attribute-value state; a '/' is not a terminator)
    assert(graft.text.HtmlText.extractLinks(html) ==
      Vector("/abs/x", "rel/y", "http://Other.test:80/z#f", "mailto:u@h.t",
        "next?p=2", "/bare/sub.html"))
  }

  test("url_path and jaccard_shingles expressions match kernels") {
    val df = Seq(
      ("http://h.test/a/b?x=1", "alpha beta gamma delta", "alpha beta gamma zeta"),
      ("http://h.test?x=/admin", "a b c", "a b c")).toDF("u", "ta", "tb")
    val rows = df.select(url_path(col("u")).as("p"),
      jaccard_shingles(col("ta"), col("tb"), 2).as("j"),
      col("ta"), col("tb")).collect()
    for (r <- rows) {
      assert(r.getAs[Double]("j") ==
        graft.text.TextStats.jaccard(r.getAs[String]("ta"), r.getAs[String]("tb"), 2))
    }
    assert(rows(0).getAs[String]("p") == "/a/b")
    assert(rows(1).getAs[String]("p") == "/")
  }

  test("whole-stage codegen stays enabled through custom expressions") {
    // over a Range scan (LocalTableScan inputs skip codegen by design);
    // '*(n)' prefixes in the plan mark whole-stage-codegen'd operators
    val plan = spark.range(100)
      .select(concat(lit("http://H"), col("id").cast("string"), lit(".test/a/./b")).as("u"))
      .select(canonicalize_url(col("u")).as("cu"), simhash64(col("u")).as("s"),
        hash_embed(col("u")).as("e"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen in:\n$plan")
  }
}

class NgramKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hash kernel matches the string-spec twin: counts on real fixture texts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (n <- Seq(3, 8, 13)) {
      val mismatch = docs.select(
        size(graft.dedup.Decontaminate.ngramKeys(col("text"), n)).as("spec"),
        size(graft.functions.ngram_hash_keys(col("text"), n)).as("fast"))
        .where(col("spec") =!= col("fast")).count()
      assert(mismatch == 0, s"n=$n")
    }
    // positional kernel: length = max(0, tokens - k + 1), case-sensitive
    val posMismatch = docs.select(
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).as("toks"),
      size(graft.functions.ngram_hashes(col("text"), 5)).as("wins"))
      .where(col("wins") =!= greatest(col("toks") - 4, lit(0))).count()
    assert(posMismatch == 0)
  }

  test("hash kernel distinguishes token boundaries and case") {
    def keysOf(t: String, n: Int, lower: Boolean) =
      Seq(t).toDF("t").select(
        if (lower) graft.functions.ngram_hash_keys(col("t"), n)
        else graft.functions.ngram_hashes(col("t"), n)).collect()(0).getSeq[Long](0)
    // "ab c" vs "a bc": same chars, different token split → different grams
    assert(keysOf("ab c x", 2, lower = true) != keysOf("a bc x", 2, lower = true))
    // lowercase kernel folds case; positional (case-sensitive) does not
    assert(keysOf("Foo bar", 2, lower = true) == keysOf("foo BAR", 2, lower = true))
    assert(keysOf("Foo bar", 2, lower = false) != keysOf("foo bar", 2, lower = false))
  }
}

class NormalizeUnicodeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("NFC composes combining marks; NFKC also folds compatibility forms") {
    def norm(s: String, form: String): String =
      Seq(s).toDF("t")
        .select(graft.functions.normalize_unicode(col("t"), form)).collect()(0).getString(0)
    assert(norm("café", "NFC") == "café")
    assert(norm("café", "NFC") == "café") // idempotent on composed
    assert(norm("ﬁle", "NFC") == "ﬁle")   // NFC leaves the fi-ligature
    assert(norm("ﬁle", "NFKC") == "file")      // NFKC folds it
    // downstream effect: dedup now sees the two spellings as one text
    val texts = Seq((1L, "café menu"), (2L, "café menu")).toDF("id", "text")
    val normed = texts.select(col("id"),
      graft.functions.normalize_unicode(col("text")).as("text"))
    assert(graft.dedup.Dedup.exactDuplicates(normed, "id", "text").count() == 1)
    assert(graft.dedup.Dedup.exactDuplicates(texts, "id", "text").count() == 0)
  }
}

class HllSqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hll card/zeros/m probes work through SQL registration") {
    graft.functions.registerAll(spark)
    (1L to 100L).map(_ * 0x9E3779B97F4A7C15L).toDF("h")
      .agg(graft.functions.hll_agg(col("h"), 8).as("sk"))
      .createOrReplaceTempView("hllsk")
    val r = spark.sql(
      "SELECT hll_card(sk) c, hll_zeros(sk) z, hll_m(sk) m FROM hllsk")
      .collect().head
    assert(r.getInt(2) == 256 && r.getInt(1) < 256 && r.getLong(0) >= 0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
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

  test("expressions match their pure-Scala twins (interpreted + codegen)") {
    val rows = sampleDf.select(
      canonicalize_url(col("url")).as("cu"),
      host_of(col("url")).as("h"),
      host_reverse(host_of(col("url"))).as("hr"),
      extract_readable(col("html")).as("t"),
      simhash64(col("html")).as("sh"),
      lang_id(col("html")).as("lg"),
      token_count_bpe(col("url")).as("tc")).collect()
    val urls = Seq("HTTP://Ex.COM:80/a/./b?q=%7E1#f", "https://a.b.c/z")
    val htmls = Seq("<h1>T</h1><p>a  b</p><script>x</script>",
      "<ul><li>q<ul><li>r</li></ul></li></ul>")
    for (i <- rows.indices) {
      assert(rows(i).getAs[String]("cu") == graft.url.UrlKit.canonicalize(urls(i)))
      assert(rows(i).getAs[String]("h") == graft.url.UrlKit.host(urls(i)))
      assert(rows(i).getAs[String]("t") == graft.text.HtmlText.extractReadable(htmls(i)))
      assert(rows(i).getAs[Long]("sh") == graft.text.TextStats.simHash64(htmls(i)))
      assert(rows(i).getAs[Int]("tc") == graft.text.TextStats.tokenCountBpe(urls(i)))
    }
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
        assert(got(id) == graft.embed.HashEmbed.srpBucket(v.toArray, bits, seed),
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

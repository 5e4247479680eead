package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.PageTable

class PageTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def pagesDf(n: Int) =
    spark.createDataset(graft.fixtures.PageGen.pages(n)).toDF()

  test("commit/read roundtrip with snapshot isolation") {
    val root = java.nio.file.Files.createTempDirectory("pagetable").toString
    val s0 = PageTable.commit(spark, root, pagesDf(50))
    assert(s0 == 0)
    assert(PageTable.read(spark, root).count() == 50)
    val s1 = PageTable.commit(spark, root, pagesDf(80))
    assert(s1 == 1)
    // latest sees snapshot 1; time travel sees snapshot 0
    assert(PageTable.read(spark, root).count() == 80)
    assert(PageTable.read(spark, root, Some(0)).count() == 50)
    // a data dir without its marker is invisible
    java.nio.file.Files.delete(java.nio.file.Paths.get(PageTable.marker(root, 1)))
    assert(PageTable.read(spark, root).count() == 50)
  }

  test("append + readAsOf: manifest-chain time travel, nothing rewritten") {
    val root = java.nio.file.Files.createTempDirectory("pagetableA").toString
    val v1 = PageTable.commit(spark, root, pagesDf(50))
    // capture v1's data files: the append must not touch them
    def files(dir: String) = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.filter(p => p.toString.endsWith(".parquet"))
        .map[String](_.toString).toArray.map(_.toString).toSet
      finally st.close()
    }
    val v1Files = files(root)
    val delta = pagesDf(80).where(col("url").contains("/d/7")) // a proper subset
    val nDelta = delta.count()
    assert(nDelta > 0)
    val v2 = PageTable.append(spark, root, delta)
    assert(v1 == 0 && v2 == 1)
    // latest = v1 rows + delta rows (row-level append semantics)
    assert(PageTable.read(spark, root).count() == 50 + nDelta)
    // read as of v1 returns v1's rows exactly
    val asOf = PageTable.read(spark, root, Some(v1))
    assert(asOf.count() == 50)
    assert(asOf.select("url").as[String].collect().sorted.toSeq ==
      pagesDf(50).select("url").as[String].collect().sorted.toSeq)
    // metadata-only append: every v1 file is still there, untouched
    assert(files(root).intersect(v1Files) == v1Files)
    // fetch accepts a versioned frame: pruning + join run against the
    // as-of snapshot, blind to the later append
    val frontier = pagesDf(50).select("url").limit(10)
    assert(PageTable.fetch(frontier, asOf, withHtml = false).count() == 10)
    // incremental scan: v2's change set is exactly the delta; v1's change
    // set (first version) is the whole snapshot
    assert(PageTable.changesOf(spark, root, v2).count() == nDelta)
    assert(PageTable.changesOf(spark, root, v1).count() == 50)
  }

  test("expireSnapshots: old versions drop, shared append files survive") {
    val root = java.nio.file.Files.createTempDirectory("pagetableE").toString
    PageTable.commit(spark, root, pagesDf(20)) // v0 (full)
    PageTable.append(spark, root, pagesDf(40).where(col("url").contains("/d/3"))) // v1
    PageTable.commit(spark, root, pagesDf(10)) // v2 (full replace)
    PageTable.append(spark, root, pagesDf(40).where(col("url").contains("/d/2"))) // v3
    val v3Count = PageTable.read(spark, root).count()
    val (expired, deleted) = PageTable.expireSnapshots(root, keepLast = 2)
    assert(expired == Seq(0, 1))
    // v0's snap dir and v1's delta are unreferenced by v2/v3 → deleted
    assert(deleted.toSet == Set("snap=0", "delta=1"))
    assert(PageTable.committedSnapshots(root) == Seq(2, 3))
    // survivors read exactly as before: v3 = v2's files + v3's delta
    assert(PageTable.read(spark, root).count() == v3Count)
    assert(PageTable.read(spark, root, Some(2)).count() == 10)
    intercept[IllegalArgumentException](PageTable.read(spark, root, Some(0)))
    // idempotent: nothing left to expire at the same horizon
    assert(PageTable.expireSnapshots(root, 2) == ((Seq.empty, Seq.empty)))
  }

  test("schema is enforced on write") {
    val root = java.nio.file.Files.createTempDirectory("pagetable2").toString
    val bad = Seq(("http://x/1", "hello")).toDF("url", "body")
    intercept[IllegalArgumentException] {
      PageTable.commit(spark, root, bad)
    }
  }

  test("bucket count is persisted and drives pruning (ADVICE fix)") {
    // committed with a NON-default bucket count: fetch must derive the
    // modulus from the table, not from its own default parameter — a
    // mismatched modulus silently prunes away matching pages (false 404s)
    val root = java.nio.file.Files.createTempDirectory("pagetable4").toString
    PageTable.commit(spark, root, pagesDf(200), buckets = 7)
    val pages = PageTable.read(spark, root)
    assert(PageTable.bucketCountOf(pages).contains(7))
    val frontier = pagesDf(200).select("url")
    // default-parameter fetch (buckets = 64) against the 7-bucket layout:
    // every frontier url must still hit its page
    val fetched = PageTable.fetch(frontier, pages, withHtml = false)
    assert(fetched.where(col("text").isNull).count() == 0,
      "metadata-derived pruning lost matching pages")
    // appending with a different bucket count is an on-disk format break
    val e = intercept[IllegalArgumentException] {
      PageTable.commit(spark, root, pagesDf(10), buckets = 64)
    }
    assert(e.getMessage.contains("bucket"))
  }

  test("fetch join replays pages for a frontier; html prunable") {
    val root = java.nio.file.Files.createTempDirectory("pagetable3").toString
    PageTable.commit(spark, root, pagesDf(40))
    val pages = PageTable.read(spark, root)
    val frontier = pagesDf(40).select("url").limit(10)
    val fetched = PageTable.fetch(frontier, pages)
    assert(fetched.count() == 10)
    assert(fetched.columns.contains("html"))
    // html-free fetch must not read the binary column from parquet
    val lean = PageTable.fetch(frontier, pages, withHtml = false)
    val scan = lean.queryExecution.executedPlan.toString
    assert(!scan.contains("html"), s"html column not pruned:\n$scan")
  }

  test("incremental corpus rebuild: pipeline(v1) \u222a pipeline(changes) == pipeline(v2)") {
    // THE 100 TB maintenance pattern: after an append, reprocess ONLY the
    // change set and union with the prior results — never re-run the text
    // pipeline over the whole corpus. The pipeline is row-local, so the
    // identity is exact (same kernels, bit-identical rows), and changesOf
    // reads only the delta's files (PageTableSpec pins that above).
    val root = java.nio.file.Files.createTempDirectory("pagetableI").toString
    val v1 = PageTable.commit(spark, root, pagesDf(60))
    val delta = pagesDf(90).where(col("url").contains("/d/1"))
    assert(delta.count() > 0)
    val v2 = PageTable.append(spark, root, delta)
    def pipe(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.TextPipeline.results(
        df.select(col("url"), col("html").cast("string").as("html")))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("url"), col("full_text"), size(col("chunks")).as("nc"),
          size(col("embeddings")).as("ne"))
        .as[(String, String, Int, Int)].collect().sorted.toSeq
    val full = key(pipe(PageTable.read(spark, root, Some(v2))))
    val incremental = key(
      pipe(PageTable.read(spark, root, Some(v1)))
        .unionByName(pipe(PageTable.changesOf(spark, root, v2))))
    assert(full == incremental)
  }
}

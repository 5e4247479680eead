package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.url.Canonical

class CanonicalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def page(url: String, canon: Option[String]): (String, String) =
    (url, canon.map(h =>
        s"""<html><head><link rel="canonical" href="$h"></head><body>x</body></html>""")
      .getOrElse("<html><body>x</body></html>"))

  test("declared variants fold; broken declarations self-canonicalize") {
    val pages = Seq(
      page("http://a.test/x", None), // the target itself, fetched
      page("http://a.test/x?utm=1", Some("http://a.test/x")), // absolute href
      page("http://a.test/print/x", Some("/x")), // root-relative href
      page("http://a.test/y", Some("mailto:z@q.test")), // non-http -> self
      page("http://b.test/m1", Some("/gone")), // target never fetched
      page("http://b.test/m2", Some("/gone"))).toDF("url", "html")
    val out = Canonical.collapse(pages).orderBy("canonical_url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("http://a.test/x", "http://a.test/x", 3L, true),
      ("http://a.test/y", "http://a.test/y", 1L, true),
      ("http://b.test/gone", "http://b.test/m1", 2L, false)))
  }

  test("one hop only: A→B while B→C leaves A on B (no chain-following)") {
    val pages = Seq(
      page("http://c.test/a", Some("/b")),
      page("http://c.test/b", Some("/c"))).toDF("url", "html")
    val t = Canonical.targets(pages).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(t("http://c.test/a") == "http://c.test/b")
    assert(t("http://c.test/b") == "http://c.test/c")
    val groups = Canonical.collapse(pages).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(3))).toMap
    // b's own row lives in group /c, so group /b has no fetched target
    assert(groups("http://c.test/b") == ("http://c.test/a", false))
    assert(groups("http://c.test/c") == ("http://c.test/b", false))
  }

  test("blank href and empty html are self-canonical") {
    val pages = Seq(
      page("http://d.test/p", Some("  ")),
      ("http://d.test/q", "")).toDF("url", "html")
    val t = Canonical.targets(pages).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(t.forall { case (u, c, s) => u == c && s })
  }

  test("targets is one narrow projection — no exchange in the plan") {
    // spark.range input: a LocalRelation would constant-fold the plan away
    val pages = spark.range(100).select(
      concat(lit("http://p.test/"), col("id").cast("string")).as("url"),
      concat(lit("<html><head><link rel=\"canonical\" href=\"/t/"),
        (col("id") % 10).cast("string"),
        lit("\"></head><body>x</body></html>")).as("html"))
    val plan = Canonical.targets(pages).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}

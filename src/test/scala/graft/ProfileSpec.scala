package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("profile: one JSON document, timed runs, a stage trace and a plan per query") {
    val names = Seq("q01_canonicalize", "bench_lineitem_agg")
    val doc = parse(Profile.run(spark, sf, names))
    val queries = doc \ "queries"
    assert(queries.asInstanceOf[JObject].obj.map(_._1) == names)
    names.foreach { n =>
      val q = queries \ n
      assert(q \ "error" == JNothing, s"$n: ${q \ "error"}")
      val JDouble(min) = q \ "min_s": @unchecked
      val JArray(runs) = q \ "runs_s": @unchecked
      assert(min > 0 && runs.size == 3 && runs.contains(JDouble(min)), n)
      val JArray(stages) = q \ "stages": @unchecked
      assert(stages.exists(s => (s \ "tasks").asInstanceOf[JInt].num > 0), n)
      val JString(plan) = q \ "plan": @unchecked
      assert(plan.nonEmpty, n)
    }
  }

  test("profile: an unknown name fails before any job runs, naming it") {
    val (e, jobs) = SparkTestSession.jobsDuring(intercept[IllegalArgumentException] {
      Profile.run(spark, sf, Seq("q01_canonicalize", "q01_canonicalise"))
    })
    assert(e.getMessage.contains("q01_canonicalise"), e.getMessage)
    assert(jobs.isEmpty)
  }
}

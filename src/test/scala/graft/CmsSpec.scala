package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{cms_agg, cms_estimate, CmSketch}
import graft.text.HeavyHitters

/** Count-min sketch + exact sketch-pruned heavy hitters. The load-bearing
  * property is one-sided error: estimates NEVER under-count, which is what
  * makes the candidate filter exact.
  */
class CmsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("estimates never under-count (the exactness guarantee)") {
    // zipf-ish skew: key k appears ~1000/k times
    val rows = (1 to 60).flatMap(k => Seq.fill(1000 / k)(k.toLong))
    val truth = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val sk = rows.toDF("key")
      .select(cms_agg(col("key"), depth = 4, width = 256).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val (d, w, c) = CmSketch.deserialize(sk)
    truth.foreach { case (k, n) =>
      assert(CmSketch.estimate(d, w, c, k) >= n, s"under-count for key $k")
    }
  }

  test("sketch images are partition-order independent (bit-for-bit)") {
    val df = (0 until 5000).map(i => (i % 37).toLong).toDF("key")
    val a = df.repartition(2).select(cms_agg(col("key")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val b = df.repartition(11).select(cms_agg(col("key")).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }

  test("wide sketch recovers exact counts when collisions are improbable") {
    val rows = (0 until 500).map(i => (i % 50).toLong)
    val sk = rows.toDF("key")
      .select(cms_agg(col("key"), depth = 4, width = 1 << 16).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    val est = rows.distinct.toDF("key")
      .select(col("key"), cms_estimate(lit(sk), col("key")).as("e"))
      .as[(Long, Long)].collect().toMap
    assert(est.values.forall(_ == 10L))
  }

  test("aboveThreshold equals the brute-force groupBy, incl. boundary") {
    val rnd = new scala.util.Random(42)
    // 30 hot keys (15-40 occurrences), 3000 cold singletons
    val rows = (0 until 30).flatMap(k => Seq.fill(15 + rnd.nextInt(26))(k.toLong)) ++
      (0 until 3000).map(i => 100000L + i) ++
      Seq.fill(15)(777777L) // exactly at threshold
    val df = rnd.shuffle(rows).toDF("key").repartition(8)
    val got = HeavyHitters.aboveThreshold(df, "key", minCount = 15, width = 4096)
      .as[(Long, Long)].collect().toMap
    val want = rows.groupBy(identity).view
      .mapValues(_.size.toLong).filter(_._2 >= 15).toMap
    assert(got == want)
  }

  test("empty input yields empty output") {
    val df = Seq.empty[Long].toDF("key")
    assert(HeavyHitters.aboveThreshold(df, "key", 1).count() == 0)
  }

  test("boilerplateDensity: template docs score high, prose low, short zero") {
    val footer = "subscribe to our newsletter for updates"
    val docs = (0 until 20).map { i =>
      (i.toLong, s"unique prose $i words alpha$i beta$i gamma$i delta$i $footer")
    } :+ (100L, "all prose here nothing shared with anyone else at all") :+
      (101L, "tiny") :+ (102L, null)
    val ansiKey = "spark.sql.ansi.enabled"
    val ansiBefore = spark.conf.getOption(ansiKey)
    try Seq("true", "false").foreach { ansi =>
      spark.conf.set(ansiKey, ansi)
      val got = HeavyHitters.boilerplateDensity(
          docs.toDF("id", "text"), "id", "text", n = 5, minDocFreq = 5L,
          width = 4096)
        .select("id", "n_grams", "n_hot", "hot_ppm")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      // the 6-token footer contributes 2 hot 5-grams per template doc
      (0L until 20L).foreach { i =>
        assert(got(i)._2 == 2L, s"doc $i n_hot (ansi=$ansi)")
        assert(got(i)._3 > 0L)
      }
      assert(got(100L)._2 == 0L && got(100L)._3 == 0L)
      assert(got(101L) == ((0L, 0L, 0L)), s"short doc (ansi=$ansi)")
      assert(got(102L) == ((0L, 0L, 0L)), s"null-text doc (ansi=$ansi)")
    } finally ansiBefore match {
      case Some(v) => spark.conf.set(ansiKey, v)
      case None => spark.conf.unset(ansiKey)
    }
  }
}

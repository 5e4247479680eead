package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.core.Rounds
import graft.dedup.Components
import graft.frontier.{Rank, Redirects, Scheduler}
import graft.url.Traps
import graft.text.Bpe

/** The iterative operators hold storage that does not grow with their
  * round count: each pair runs one operator at a small and a large round
  * count, and both leave the same number of persisted RDDs behind (the
  * checkpoints their output reads).
  */
class RoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The RDDs `op` leaves persisted, its output read once (it must still be
    * readable); the output's checkpoints are released afterwards so the
    * shared session starts the next case clean.
    */
  private def held(op: => DataFrame): Map[Int, String] = {
    val (out, rdds) = SparkTestSession.persistedDuring(op)
    assert(out.collect().nonEmpty)
    Rounds.release(out)
    rdds
  }

  private def sameHeld(name: String)(small: => DataFrame, large: => DataFrame): Unit = {
    val (a, b) = (held(small), held(large))
    assert(a.size == b.size, s"$name: ${a.values} vs ${b.values}")
  }

  private lazy val edges =
    (0L until 40L).flatMap(i => Seq((i, (i * 7 + 3) % 40), (i, (i + 1) % 41))).toDF("src", "dst")

  test("pageRank and trustRank hold the same storage after 1 and 6 iterations") {
    sameHeld("pageRank")(Rank.pageRank(edges, iters = 1), Rank.pageRank(edges, iters = 6))
    val seeds = Seq(0L, 5L).toDF("node")
    sameHeld("trustRank")(Rank.trustRank(edges, seeds, iters = 1),
      Rank.trustRank(edges, seeds, iters = 6))
  }

  test("HITS holds the same storage after 1 and 4 iterations") {
    sameHeld("hits")(Rank.hits(edges, iters = 1), Rank.hits(edges, iters = 4))
  }

  test("components hold the same storage for a 10-node and a 1,000-node chain") {
    def chain(n: Long) = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (small, large) = (chain(10), chain(1000))
    assert(Components.connectedComponentsWithRounds(small)._2 <
      Components.connectedComponentsWithRounds(large)._2)
    sameHeld("components")(Components.connectedComponents(small),
      Components.connectedComponents(large))
  }

  test("redirect resolution holds the same storage at maxHops 2 and 64") {
    val hops = (0 until 64).map(j => (s"http://r.test/n$j", s"http://r.test/n${j + 1}"))
      .toDF("src", "dst")
    val urls = Seq("http://r.test/n0", "http://r.test/n60").toDF("url")
    sameHeld("redirects")(Redirects.resolve(urls, hops, maxHops = 2),
      Redirects.resolve(urls, hops, maxHops = 64))
  }

  test("BPE training holds the same storage after 4 and 16 merges") {
    // one 26-letter word, three times: every round has a pair counted 3×
    val docs = Seq.fill(3)("abcdefghijklmnopqrstuvwxyz").toDF("text")
    def trained(merges: Int) = {
      val (got, rdds) = SparkTestSession.persistedDuring(Bpe.train(docs, "text", merges))
      assert(got.size == merges)
      rdds
    }
    val (a, b) = (trained(4), trained(16))
    assert(a.size == b.size, s"bpe: ${a.values} vs ${b.values}")
  }

  test("capPerTemplate holds one checkpoint: the salted rank's frozen input") {
    val frontier = (0 until 60).map(i => (s"http://t.test/cal/$i", i))
      .toDF("canonical_url", "seed_idx")
    val ((kept, deferred), rdds) =
      SparkTestSession.persistedDuring(Traps.capPerTemplate(frontier, 10L))
    assert(rdds.size == 1, rdds.values)
    assert(kept.count() == 10 && deferred.count() == 50)
    Rounds.release(kept)
  }

  test("an unranged salted rank reads its bucket width off its one freezing job") {
    def ranked(df: DataFrame, jobs: Int) = {
      val (out, started) = SparkTestSession.jobsDuring(
        Scheduler.perHostRankSalted(df, "host", "seed_idx"))
      assert(started.size == jobs, started)
      val rows = out.collect()
      Rounds.release(out)
      rows
    }
    val df = (0 until 300).map(i => (s"h${i % 3}", i * 1000L)).toDF("host", "seed_idx")
    val got = ranked(df, jobs = 1).map(r => r.getAs[Long]("seed_idx") -> r.getAs[Long]("host_pos")).toMap
    assert(got == (0 until 300).map(i => i * 1000L -> (i / 3 + 1).toLong).toMap)
    // an empty input materializes without a job and still ranks (width 1)
    assert(ranked(df.limit(0), jobs = 0).isEmpty)
  }

  test("release runs no job and spares the checkpoints a kept frame reads") {
    val a = edges.localCheckpoint(true)
    val b = edges.localCheckpoint(true)
    val both = a.union(b)
    val jobs = SparkTestSession.jobsDuring(Rounds.release(both, keep = Seq(a)))._2
    assert(jobs.isEmpty)
    val ids = spark.sparkContext.getPersistentRDDs.keySet
    def rddOf(df: DataFrame) = df.queryExecution.logical
      .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }.get
    assert(ids(rddOf(a)) && !ids(rddOf(b)))
    assert(a.count() == edges.count())
    Rounds.release(a)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddOf(a)))
  }
}

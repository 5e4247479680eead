package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.frontier.Rank

class RankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference implementation: same formula, driver-side. */
  private def refRank(edges: Seq[(Long, Long)], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var s = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => s(u) / outdeg(u) }.sum).toMap
      s = nodes.map(n => n -> ((1 - damping) + damping * contrib.getOrElse(n, 0.0))).toMap
    }
    s
  }

  test("pageRank matches the driver-side reference on a hand graph (dangling leak incl.)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 5L))
    val got = Rank.pageRank(edges.toDF("src", "dst"), iters = 3)
      .as[(Long, Double)].collect().toMap
    val want = refRank(edges, 3)
    assert(got.keySet == want.keySet) // node 5 (dst-only) present
    for ((n, s) <- want) assert(math.abs(got(n) - s) < 1e-9, s"node $n: ${got(n)} vs $s")
    // authority ordering: 3 (two in-links incl. from the hub) beats 2 and 5
    assert(got(3L) > got(2L) && got(3L) > got(5L))
  }

  test("more iterations move scores (the fixed point is not the start vector)") {
    val edges = (0L until 50L).map(i => (i, (i * 3 + 1) % 17)).toDF("src", "dst")
    val one = Rank.pageRank(edges, iters = 1).as[(Long, Double)].collect().toMap
    val three = Rank.pageRank(edges, iters = 3).as[(Long, Double)].collect().toMap
    assert(one.keySet == three.keySet)
    assert(one.exists { case (n, s) => math.abs(s - three(n)) > 1e-6 })
  }

  /** Weighted reference: contributions score(u)·w(u,v)∕W(u). */
  private def refRankW(edges: Seq[(Long, Long, Long)], iters: Int,
      damping: Double = 0.85): Map[Long, Double] = {
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var s = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => s(u) * w / outw(u) }.sum).toMap
      s = nodes.map(n => n -> ((1 - damping) + damping * contrib.getOrElse(n, 0.0)))
        .toMap
    }
    s
  }

  test("weighted pageRank matches the reference; weight 1 ≡ unweighted") {
    val wEdges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 4L))
    val got = Rank.pageRank(wEdges.toDF("src", "dst", "w"), iters = 3,
        weightCol = Some("w")).as[(Long, Double)].collect().toMap
    val want = refRankW(wEdges, 3)
    for ((n, s) <- want) assert(math.abs(got(n) - s) < 1e-9, s"node $n")
    // the heavy 1→2 edge (5 of 1's weight 6) must beat the light 1→3 path
    // in round-1 contribution terms: 2 collects 0.85·5/6 vs 3's 0.85·(1/6+1)
    // — weights matter, so weighted ≠ unweighted on this graph
    val unw = Rank.pageRank(wEdges.map(e => (e._1, e._2)).toDF("src", "dst"),
      iters = 3).as[(Long, Double)].collect().toMap
    assert(want.exists { case (n, s) => math.abs(s - unw(n)) > 1e-3 })
    // and all-ones weights reproduce the unweighted scores exactly
    val ones = Rank.pageRank(wEdges.map(e => (e._1, e._2, 1L)).toDF("src", "dst", "w"),
      iters = 3, weightCol = Some("w")).as[(Long, Double)].collect().toMap
    for ((n, s) <- unw) assert(got.contains(n) && math.abs(ones(n) - s) < 1e-12)
  }

  test("fractional weights are honored, not truncated") {
    // 0.7/0.3 out of node 1: a long-cast would zero both and every score
    // would collapse to 0.15
    val e = Seq((1L, 2L, 0.7), (1L, 3L, 0.3), (2L, 1L, 1.0), (3L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val got = Rank.pageRank(e, iters = 2, weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    // round 1: s2 = 0.15 + 0.85·0.7, s3 = 0.15 + 0.85·0.3
    assert(got(2L) > got(3L), got.toString)
    assert(got.values.forall(_ > 0.15 - 1e-12))
    assert(math.abs(got(2L) - got(3L) - 0.85 * 0.4 * 1.85) < 1e-9,
      got.toString) // round-2 gap: d·(w2−w3)·s1(1) with s1(1) = 0.15+0.85·2
  }

  test("hostGraph collapses urls, drops self-loops, counts multiplicity") {
    val edges = Seq(
      ("http://a.test/1", "http://b.test/x"),
      ("http://a.test/2", "http://b.test/y"), // same host pair → weight 2
      ("http://a.test/3", "http://a.test/nav"), // self-loop → dropped
      ("http://b.test/1", "http://c.test/z")).toDF("src", "dst")
    val hg = Rank.hostGraph(edges).as[(String, String, Long)].collect().toSet
    assert(hg == Set(("a.test", "b.test", 2L), ("b.test", "c.test", 1L)))
  }

  test("hostRank: authority follows the heavier edge out of a shared hub") {
    // one hub linking COMPETING hosts: 10 links to a.test, 2 to b.test —
    // the hub's mass splits 10/12 vs 2/12, so the collapse's multiplicity
    // weights (not mere reachability) decide the order
    val edges = ((0 until 10).map(i => (s"http://hub.test/p$i", s"http://a.test/t$i")) ++
      (0 until 2).map(i => (s"http://hub.test/q$i", s"http://b.test/t$i"))).toDF("src", "dst")
    val scores = Rank.hostRank(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(scores.keySet == Set("hub.test", "a.test", "b.test"))
    assert(scores("a.test") > scores("b.test"), scores.toString)
    // parity with the weighted reference over the collapsed graph
    val hg = Rank.hostGraph(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ids = (hg.map(_._1) ++ hg.map(_._2)).distinct.zipWithIndex
      .map { case (h, i) => h -> i.toLong }.toMap
    val want = refRankW(hg.map(e => (ids(e._1), ids(e._2), e._3)).toSeq, 3)
    for ((h, i) <- ids)
      assert(math.abs(scores(h) - want(i)) < 1e-9, h)
  }

  /** A generated link graph: 2 to 30 random edges over up to 12 ids with
    * fractional weights, plus a duplicate edge, a self-loop and a dangling
    * node (99, never a source); the seeds are random ids, some absent from
    * the graph (≥ the id range, and always 1000), or none at all.
    */
  private def generatedGraph(seed: Long): (Seq[(Long, Long, Double)], Seq[Long]) = {
    val r = new scala.util.Random(seed)
    val n = 2 + r.nextInt(11)
    val random = Seq.fill(2 + r.nextInt(29))(
      (r.nextInt(n).toLong, r.nextInt(n).toLong, (1 + r.nextInt(40)) / 8.0))
    val seeds = if (seed % 4 == 0) Nil else Seq.fill(r.nextInt(4))(r.nextInt(n + 3).toLong) :+ 1000L
    (random ++ Seq(random.head, (0L, 0L, 0.3), (1L, 99L, 2.5)), seeds)
  }

  test("pageRank and trustRank are Double-exact to the dedicated loops they replaced") {
    // bit patterns, so even a 0.0 vs -0.0 or last-ulp difference fails
    def bits(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Double)].collect()
      .map { case (n, s) => n -> java.lang.Double.doubleToRawLongBits(s) }.toMap
    for (seed <- 0L until 10L) {
      val (edges, seedIds) = generatedGraph(seed)
      val iters = 1 + (seed % 5).toInt
      val e = edges.toDF("src", "dst", "w")
      val s = seedIds.toDF("node")
      val cases = Seq(
        "pageRank" -> (Rank.pageRank(e, iters = iters), RankReference.pageRank(e, iters = iters)),
        "weighted pageRank" -> (Rank.pageRank(e, iters = iters, weightCol = Some("w")),
          RankReference.pageRank(e, iters = iters, weightCol = Some("w"))),
        "trustRank" -> (Rank.trustRank(e, s, iters = iters),
          RankReference.trustRank(e, s, iters = iters)))
      for ((name, (got, want)) <- cases)
        assert(bits(got) == bits(want), s"$name, graph $seed, iters $iters, seeds $seedIds")
    }
  }
}

class SeedDistanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxDepth: Int = 6): Map[Long, Int] =
    Rank.seedDistance(edges.toDF("src", "dst"), seeds.toDF("node"),
        maxDepth = maxDepth)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("shortcut wins: depth is the MINIMUM hop count") {
    val out = run(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 1L -> 4L),
      Seq(1L))
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
  }

  test("cycles terminate; unreachable nodes are absent") {
    val out = run(Seq(1L -> 2L, 2L -> 1L, 7L -> 8L), Seq(1L))
    assert(out == Map(1L -> 0, 2L -> 1))
  }

  test("maxDepth bounds the expansion exactly") {
    val out = run(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L), Seq(1L), maxDepth = 1)
    assert(out == Map(1L -> 0, 2L -> 1))
  }

  test("isolated seed reports depth 0 and the loop exits early") {
    val out = run(Seq(5L -> 6L), Seq(10L))
    assert(out == Map(10L -> 0))
  }

  test("parallel edges and duplicate seeds add no rows") {
    val out = run(Seq(1L -> 2L, 1L -> 2L, 1L -> 2L), Seq(1L, 1L))
    assert(out == Map(1L -> 0, 2L -> 1))
  }

  test("multi-seed: each node takes the nearest seed's distance") {
    val out = run(Seq(1L -> 2L, 2L -> 3L, 9L -> 3L), Seq(1L, 9L))
    assert(out == Map(1L -> 0, 9L -> 0, 2L -> 1, 3L -> 1))
  }
}

class TrianglesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(edges: Seq[(String, String)]): Map[String, (Long, Long, Long)] =
    graft.frontier.Rank.triangles(edges.toDF("src_host", "dst_host"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("a 4-clique: every host in 3 triangles, clustering 1e6 ppm") {
    val hosts = Seq("a", "b", "c", "d")
    val clique = for { x <- hosts; y <- hosts if x < y } yield (x, y)
    val out = run(clique)
    hosts.foreach { h => assert(out(h) == ((3L, 3L, 1000000L)), h) }
  }

  test("a path has no triangles; degree-1 endpoints score 0") {
    val out = run(Seq("a" -> "b", "b" -> "c", "c" -> "d"))
    assert(out("a") == ((1L, 0L, 0L)))
    assert(out("b") == ((2L, 0L, 0L)))
  }

  test("direction, duplicates and self-loops do not inflate the census") {
    val out = run(Seq(
      "a" -> "b", "b" -> "a", "a" -> "b",   // one undirected edge
      "b" -> "c", "c" -> "a",
      "a" -> "a"))                          // self-loop dropped
    assert(out == Map(
      "a" -> ((2L, 1L, 1000000L)),
      "b" -> ((2L, 1L, 1000000L)),
      "c" -> ((2L, 1L, 1000000L))))
  }

  test("a self-loop-ONLY host surfaces with degree 0, not silently dropped") {
    // the spam shape: a host linking only to itself must appear in the
    // census (degree 0, no triangles) so downstream score ensembles see it
    val out = run(Seq("loner" -> "loner", "a" -> "b"))
    assert(out("loner") == ((0L, 0L, 0L)))
    assert(out("a") == ((1L, 0L, 0L)))
  }

  test("triangle hanging off a hub counts once per member") {
    // hub h connected to t1..t5; triangle only among h, t1, t2
    val spokes = (1 to 5).map(i => ("h", s"t$i"))
    val out = run(spokes :+ ("t1" -> "t2"))
    assert(out("h") == ((5L, 1L, 100000L))) // 2e6*1/(5*4)
    assert(out("t1") == ((2L, 1L, 1000000L)))
    assert(out("t3") == ((1L, 0L, 0L)))
  }
}

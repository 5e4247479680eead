package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Rounds

/** PageRank over the discovered link graph — the iterative authority score
  * behind frontier prioritization (the one-step
  * [[Scheduler.inDegreePriority]] is its first approximation; the scores
  * here feed [[Scheduler.priorityOrderKey]] the same way).
  *
  * Scale shape: the round rules of [[graft.core.Rounds]] (per-round
  * checkpoint with observed counts, right-sized hermetic shuffles,
  * superseded rounds released), plus:
  *
  *  - the edge list (+ per-source out-degree) is staged ONCE — it is read
  *    every iteration, and its upstream is typically the expensive
  *    link-extraction pipeline;
  *  - every iteration is one join + one map-side-combinable sum keyed by
  *    dst — rows on the wire are (node: LONG, score: DOUBLE) = 16 bytes.
  *
  * Semantics: `score ← (1 − d) + d × Σ_{u→v} score(u) ∕ outdeg(u)` from a
  * uniform 1.0 start — the classic unnormalized formulation (sums to ~|V|,
  * not 1). Dangling nodes (no out-edges) leak their mass, the standard
  * simplification for crawl prioritization where relative order is what
  * matters; redistribute-to-all would add one scalar aggregate per round.
  */
object Rank {

  /** The node ids of a staged edge list, one row each, keyed by `node`. */
  private def nodeIds(e: DataFrame, width: Int): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .repartition(width, col("node"))
      .distinct()

  /** The one power iteration behind [[pageRank]] and [[trustRank]]:
    * `score ← (1 − d)·base(v) + d × Σ_{u→v} score(u)·w(u,v) ∕ W(u)`,
    * `W(u) = Σ_v w(u,v)`, from `score = base`. `edges` is (src, dst) plus
    * what `w` reads; `withBase` adds what `base` reads to the node ids.
    * Literal 1.0 for base (PageRank) or w (TrustRank) stages no column and
    * keeps every double exact: (1 − d)·1.0 = 1 − d, score·1.0 = score, and
    * 1.0 weights sum to the exact out-degree below 2^53.
    */
  private def powerIteration(edges: DataFrame, w: Column, base: Column,
      iters: Int, damping: Double)(withBase: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    require(damping > 0.0 && damping < 1.0, s"damping: $damping")
    val (e, Seq(nEdges)) = Rounds.materialize(edges)
    val width = Rounds.width(edges.sparkSession, nEdges)
    val deg = e.repartition(width, col("src"))
      .groupBy("src").agg(sum(w).as("outw"))
    val withDeg = e.join(deg, "src").localCheckpoint(true) // read every round
    val nodes = withBase(nodeIds(e, width)).localCheckpoint(true)
    var scores = nodes.select(col("node"), base.as("score"))
    for (_ <- 1 to iters) {
      val contrib = withDeg
        .join(scores.select(col("node").as("src"), col("score")), "src")
        .select(col("dst").as("node"), (col("score") * w / col("outw")).as("c"))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), (lit(1.0d - damping) * base
          + lit(damping) * coalesce(col("c"), lit(0.0d))).as("score"))
        .localCheckpoint(true)
      Rounds.release(scores, keep = Seq(nodes))
      scores = next
    }
    Seq(e, withDeg, nodes).foreach(Rounds.release(_))
    scores
  }

  /** `weightCol`: optional per-edge weight (e.g. the link multiplicity the
    * host-graph collapse produces) — contributions become
    * `score(u) × w(u,v) ∕ W(u)` with `W(u) = Σ_v w(u,v)`; None is the
    * classic unweighted rank (w ≡ 1). Weights are carried as DOUBLE so
    * fractional weights work; integer-valued weights lose nothing
    * (integer-valued double sums below 2^53 are exact in any order — the
    * oracle-parity property the multiplicity path relies on).
    */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 3, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame =
    powerIteration(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        weightCol.map(col(_).cast("double")).getOrElse(lit(1.0d)).as("w")),
      col("w"), lit(1.0d), iters, damping)(identity)

  /** TrustRank (Gyöngyi et al., VLDB '04) — PageRank with the teleport
    * restricted to a TRUSTED SEED set: trust flows only out of
    * hand-vetted hosts, so link-farm clusters that pump each other (and
    * would pump plain PageRank) score ~0 unless something trusted links
    * into them. This is the standard spam-demotion channel of a crawl
    * scheduler; compose its scores into the same priority slot as
    * [[pageRank]]/[[hostRank]].
    *
    * `score ← (1 − d)·seed(v) + d × Σ_{u→v} score(u)/outdeg(u)`, starting
    * from the seed indicator — the unnormalized convention of [[pageRank]]
    * (dividing by |S| only rescales every iterate linearly; relative order
    * is what the scheduler consumes). Same loop as [[pageRank]] (one power
    * iteration with base = the seed indicator and w ≡ 1); dangling mass
    * leaks, as documented there.
    */
  def trustRank(edges: DataFrame, seeds: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", seedCol: String = "node",
      iters: Int = 3, damping: Double = 0.85): DataFrame =
    powerIteration(edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")), lit(1.0d), col("base"), iters, damping)(
      _.join(seeds.select(col(seedCol).cast("long").as("node"),
          lit(true).as("__seed")).distinct(), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed"), lit(1.0d)).otherwise(lit(0.0d)).as("base")))

  /** HITS hubs & authorities (Kleinberg '99) — the complementary authority
    * signal to [[pageRank]]: a GOOD HUB (link directory, sitemap page,
    * curated index) scores high for pointing at good authorities even when
    * nothing points back at it, which is exactly the page a crawler wants
    * to re-visit for discovery; PageRank structurally under-ranks such
    * pages. auth ← Σ_in hub, hub ← Σ_out auth, L1-normalized per half-step.
    *
    * FIXED-POINT arithmetic throughout (the q70/q77 discipline): scores
    * are integers scaled to `scale`, each normalization is one exact
    * integer sum + a floor DIV — so Long sums are order-independent and
    * any engine replays every iteration bit-for-bit (the float form's
    * L2 norm would make scores reduction-order-dependent). Headroom:
    * raw ≤ scale × max-degree × |V| ≪ 2^63 for any realistic graph.
    *
    * Scale shape mirrors [[pageRank]]: edges staged once, per-round rows
    * are (node LONG, score LONG) = 16 bytes, map-side-combinable sums
    * keyed by dst then src, one checkpoint per half-step (the superseded
    * one released), and each normalization total observed on that
    * checkpoint — never a driver collect.
    */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 2, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters: $iters")
    require(scale >= 1000L, s"scale: $scale")
    val (e, Seq(nEdges)) = Rounds.materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val width = Rounds.width(edges.sparkSession, nEdges)
    val nodes = nodeIds(e, width).localCheckpoint(true)
    // One half-step: sum the `in` scores along the edges `from` → `to`,
    // superseding `prev`. The L1 total is observed on the raw sums'
    // checkpoint, so the normalization ((scale·raw) DIV tot) divides by a
    // literal.
    def halfStep(scores: DataFrame, in: String, from: String, to: String,
        prev: DataFrame, out: String): DataFrame = {
      val (raw, Seq(_, tot)) = Rounds.materialize(
        e.join(scores.withColumnRenamed("node", from), from)
          .select(col(to).as("node"), col(in))
          .repartition(width, col("node"))
          .groupBy("node").agg(sum(col(in)).as("raw")),
        coalesce(sum(col("raw")), lit(0L)))
      Rounds.release(prev, keep = Seq(nodes))
      val scored =
        if (tot > 0) raw.select(col("node"), expr(s"($scale * raw) DIV $tot").as(out))
        else raw.select(col("node"), lit(0L).as(out))
      nodes.join(scored, Seq("node"), "left")
        .select(col("node"), coalesce(col(out), lit(0L)).as(out))
    }
    var hub = nodes.withColumn("hub", lit(scale))
    var auth = nodes.withColumn("auth", lit(0L))
    for (_ <- 1 to iters) {
      auth = halfStep(hub, "hub", "src", "dst", auth, "auth")
      hub = halfStep(auth, "auth", "dst", "src", hub, "hub")
    }
    Rounds.release(e)
    auth.join(hub, Seq("node"))
  }

  /** Collapse the url-level link graph to the HOST graph: one row per
    * (src_host, dst_host) with `weight` = link multiplicity. Self-loops
    * (intra-host navigation chrome — headers, footers, pagination) are
    * dropped: they dominate raw link counts on any real site yet carry no
    * cross-site endorsement, and they would let every host pump its own
    * authority. This is THE scale lever for authority at 100 TB: 10^10
    * urls collapse to ~10^7 hosts, so the iterative rank runs on a graph
    * three orders smaller than the url rank's — one groupBy of
    * (host, host) string pairs, then 16-byte hashed rows in the loop.
    */
  def hostGraph(edges: DataFrame, srcUrlCol: String = "src",
      dstUrlCol: String = "dst"): DataFrame =
    edges.select(
        graft.functions.host_of(col(srcUrlCol)).as("src_host"),
        graft.functions.host_of(col(dstUrlCol)).as("dst_host"))
      .where(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("weight"))

  /** Reciprocal-link ("nepotism") ratio per host — Davison '00's classic
    * link-spam heuristic: organic endorsement is mostly one-way, while
    * link-exchange schemes reciprocate, so a host whose out-partners
    * mostly link BACK is running a scheme (or a webring). Feed the ppm
    * into the same demotion slot as [[trustRank]] — the two catch
    * different farms (trustRank needs a trusted seed set; this needs
    * none).
    *
    * Input is the [[hostGraph]] pair table (already collapsed — the 10^7
    * scale story is inherited); the reverse-pair probe is one self
    * equi-join on the pair key, then a map-side-combinable rollup.
    */
  def reciprocity(hostEdges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host"): DataFrame = {
    val e = hostEdges.select(col(srcCol).as("s"), col(dstCol).as("d"))
    val rev = e.select(col("d").as("s"), col("s").as("d"), lit(true).as("__r"))
      .distinct()
    e.join(rev, Seq("s", "d"), "left")
      .groupBy(col("s").as("host"))
      .agg(count(lit(1)).as("n_out_partners"),
        sum(when(col("__r"), 1L).otherwise(0L)).as("n_reciprocal"))
      .withColumn("reciprocity_ppm",
        expr("(1000000 * n_reciprocal) DIV n_out_partners"))
  }

  /** Host-level authority: [[hostGraph]] → weighted [[pageRank]] over
    * xxhash64 host ids (collision odds at 10^7 hosts ≈ 10^-6; ids never
    * leave this function) → (host, score). The host score is what a crawl
    * scheduler can actually hold: a ≤10^7-row broadcast-able priority
    * table, where per-url ranks would be another 10^10-row state.
    */
  def hostRank(edges: DataFrame, srcUrlCol: String = "src",
      dstUrlCol: String = "dst", iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    val hg = hostGraph(edges, srcUrlCol, dstUrlCol).localCheckpoint(true)
    val scores = pageRank(
      hg.select(xxhash64(col("src_host")).as("src"),
        xxhash64(col("dst_host")).as("dst"), col("weight")),
      iters = iters, damping = damping, weightCol = Some("weight"))
    val hosts = hg.select(col("src_host").as("host"))
      .union(hg.select(col("dst_host").as("host"))).distinct()
    hosts.join(scores, xxhash64(col("host")) === col("node"))
      .select(col("host"), col("score"))
  }

  /** Minimum link distance from a SEED SET — crawl depth, computed exactly
    * by distributed BFS. Depth is the scheduling signal every breadth-
    * bounded crawl runs on ("crawl to depth 6 from the seed list"): a url
    * first reachable at hop `d` gets `depth = d`, seeds get 0, anything
    * not reachable within `maxDepth` is absent from the output
    * (quarantine-by-omission — the crawler simply never schedules it).
    *
    * Shape: textbook frontier-expansion BFS, NOT pointer doubling —
    * doubling materializes the transitive closure (quadratic blow-up on a
    * dense web graph) where BFS touches each edge once per frontier pass
    * and each node exactly once ever. Per round: one equi-join of the
    * 8-byte frontier against the staged edge list, one distinct, one
    * left-anti against the visited set (the seen-filter shape — at crawl
    * scale the visited set IS the seen ledger). Rounds are bounded by
    * `maxDepth`, with EARLY EXIT the moment a frontier comes back empty
    * (the per-round emptiness probe is a count of 8-byte rows, the same
    * driver action the wave loop pays). Edges are deduplicated up front
    * (parallel edges add nothing to reachability), every per-round frame
    * is checkpointed so the plan never grows with depth, and shuffles are
    * right-sized to the edge count ([[graft.core.Rounds]]). The staged
    * edges are released on return; the per-depth frontiers ARE the output,
    * so they stay (at most maxDepth + 1 of them).
    */
  def seedDistance(edges: DataFrame, seeds: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node", maxDepth: Int = 6): DataFrame = {
    require(maxDepth >= 0, s"maxDepth: $maxDepth")
    val (e, Seq(nEdges)) = Rounds.materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val width = Rounds.width(edges.sparkSession, nEdges)
    // Per round ONE action: the next frontier's checkpoint, its emptiness
    // probe observed on it. Visited stays a lazy union of those checkpoints.
    var (frontier, Seq(nFrontier)) = Rounds.materialize(
      seeds.select(col(seedCol).cast("long").as("node"))
        .distinct()
        .repartition(width, col("node")))
    var visited = frontier.withColumn("depth", lit(0))
    var d = 0
    while (d < maxDepth && nFrontier > 0) {
      d += 1
      val (next, Seq(nNext)) = Rounds.materialize(
        frontier.withColumnRenamed("node", "src")
          .join(e, "src")
          .select(col("dst").as("node"))
          .repartition(width, col("node"))
          .distinct()
          .join(visited.select("node"), Seq("node"), "left_anti"))
      visited = visited.union(next.withColumn("depth", lit(d)))
      frontier = next
      nFrontier = nNext
    }
    Rounds.release(e)
    visited
  }

  /** Per-host TRIANGLE counts and local clustering coefficient over the
    * undirected host graph — the link-farm DENSITY signal: organic link
    * neighborhoods are sparse (coefficients near 0), while link exchanges
    * and blog-farm rings wire everyone to everyone (near 10^6 ppm); it
    * complements [[reciprocity]] (pairwise) and [[trustRank]] (needs
    * seeds) by scoring the triangle structure itself.
    *
    * Algorithm: degree-ordered edge ORIENTATION (each undirected edge
    * points from its lower (degree, id) endpoint to the higher), wedges
    * generated only at each triangle's lowest-ordered vertex, closed by
    * one equi-join against the canonical pair set — the classic bound of
    * O(m^{3∕2}) wedges total regardless of degree skew, where the naive
    * neighbor self-join explodes quadratically on the first hub host
    * (exactly the vertex a link farm plants). Everything downstream of
    * the host strings runs on hashed 8-byte ids; strings re-attach once
    * at the end. `clustering_ppm` = 2·10^6·T ∕ (deg·(deg−1)) as exact
    * integer division (0 when deg < 2), so the whole operator replays in
    * SQL.
    */
  def triangles(hostEdges: DataFrame, srcCol: String = "src_host",
      dstCol: String = "dst_host"): DataFrame = {
    val raw0 = hostEdges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val raw = raw0.where(col("a") =!= col("b"))
    // node universe from ALL edges incl. self-loops: a host whose only
    // edges are self-loops is a real spam shape and must surface as
    // (degree 0, triangles 0, clustering 0), not vanish from the census
    val nodes = raw0.select(col("a").as("host"))
      .union(raw0.select(col("b").as("host")))
      .distinct()
      .select(col("host"), xxhash64(col("host")).as("id"))
      .localCheckpoint(true)
    val und = raw.select(
        least(xxhash64(col("a")), xxhash64(col("b"))).as("u"),
        greatest(xxhash64(col("a")), xxhash64(col("b"))).as("v"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val ord = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("lo"), col("v").as("hi")))
        .otherwise(struct(col("v").as("lo"), col("u").as("hi"))).as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
      .localCheckpoint(true)
    // wedges at the lowest-ordered vertex; both spokes rank above `lo`, and
    // between themselves compare by raw id — exactly the canonical (u, v)
    // key of `und`, so closure is one equi-join, no re-ordering
    val wedges = ord.as("e1").join(ord.as("e2"), "lo")
      .where(col("e1.hi") < col("e2.hi"))
      .select(col("lo").as("x"), col("e1.hi").as("u"), col("e2.hi").as("v"))
    val tri = wedges.join(und, Seq("u", "v"))
    val perNode = tri
      .select(explode(array(col("x"), col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    nodes
      .join(deg, Seq("id"), "left")
      .join(perNode, Seq("id"), "left")
      .select(col("host"), coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_ppm",
        when(col("degree") >= 2,
          expr("(2000000 * triangles) DIV (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }
}

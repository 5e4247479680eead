package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape goldens (SURVEY.md §4.2 "shuffle count budget ... verify in
  * explain() golden test"): the point is not that queries return the right
  * rows — the oracle gates that — but that they return them with the plan
  * we'd want at 1000 executors: filters pushed to the parquet scan, small
  * sides broadcast, no more exchanges than the algorithm requires, codegen
  * everywhere.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def countShuffles(plan: SparkPlan): Int =
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum

  test("filter + projection reach the parquet scan (pushdown, pruning)") {
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("lang") === "en")
      .select("doc_id", "n_chars")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
    // pruned to the 3 needed columns (lang stays for the residual filter);
    // text/source (the wide ones) must NOT be read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"), plan)
  }

  test("frontier-only read of the pages table never touches html") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planpt").toString
    graft.sources.PageTable.commit(spark,
      root, spark.createDataset(graft.fixtures.PageGen.pages(30)).toDF())
    val plan = graft.sources.PageTable.read(spark, root)
      .select("url", "lang").queryExecution.executedPlan.toString
    assert(!plan.contains("html"), plan)
  }

  test("selective fetch statically prunes pages-table buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("planptprune").toString
    graft.sources.PageTable.commit(spark, root,
      spark.createDataset(graft.fixtures.PageGen.pages(2000)).toDF())
    val stored = graft.sources.PageTable.read(spark, root)
    val frontier = spark.range(3)
      .select(concat(lit("http://src0.test/d/"), col("id").cast("string")).as("url"))
    val listener = new org.apache.spark.scheduler.SparkListener {
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) records.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val fetched = graft.sources.PageTable.fetch(frontier, stored, withHtml = false)
      assert(fetched.count() == 3)
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      // a 3-url wave touches ≤3 of 64 buckets (~31 pages each): the pages
      // scan must read ~100 rows, not all 2000 (plus small frontier reads)
      assert(listener.records.get < 600,
        s"pruning did not bite: ${listener.records.get} records read")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("schedule pipeline shuffle budget") {
    // per SURVEY §4.2: dedup agg+semi-join partitioning, salt repartition /
    // per-(host,bucket) rank, offsets agg — the budget is 6 exchanges; the
    // offsets side is broadcast (no exchange for the join back)
    val f = BenchQueries.frontierSchedule(spark, sf)
    f.count() // settle AQE
    val n = countShuffles(f.queryExecution.executedPlan)
    assert(n <= 6, s"shuffle budget blown: $n exchanges\n${f.queryExecution.executedPlan}")
  }

  test("salted scheduler broadcasts the per-bucket offsets") {
    val plan = BenchQueries.frontierSchedule(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("ANN brute force: corpus side is never shuffled, queries broadcast") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val top = graft.ann.Ann.bruteForceTopK(e, e.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3)
    top.count()
    val s = top.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"), s)
    // the only exchange is the final per-query window rank
    assert(countShuffles(top.queryExecution.executedPlan) <= 1, s)
  }

  test("cosine near-dup never degenerates to a cartesian/BNL join") {
    // round-1 regression: l.join(r, id < id) compiled to an all-pairs
    // CartesianProduct — O(n²) shuffled rows at scale. The LSH-bucketed
    // rewrite must keep every join equi-keyed.
    for (q <- Seq(
        SparkEntry.queries("q17_near_dup_cosine")(spark, sf),
        graft.dedup.Dedup.cosineNearDups(
          spark.read.parquet(s"$sf/embeddings.parquet"), "vec_id", "embedding", 0.4))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("ANN IVF path: equi-join on cell id, no cartesian, no udf") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = graft.ann.Ann.ivfTopK(e, e.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3, nlist = 8, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("ivf_cells"), plan)
  }

  test("ANN LSH path carries no udf (codegen'd srp_bucket expression)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.ann.Ann.lshTopK(e, e.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3, bits = 4, tables = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("srp_bucket"), plan)
    // round-2 regression: the candidate machinery shipped raw dim-sized
    // vectors through ×tables joins AND the pair-dedup exchange. Candidates
    // must now dedup as bare (q_id, nn_id): the dedup aggregate's INPUT
    // carries no array column (vectors join back only above it)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val dedups = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.output.map(_.name).toSet == Set("q_id", "nn_id") => a
    }
    assert(dedups.nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(dedups.forall(_.child.output.forall(att =>
      !att.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])),
      df.queryExecution.optimizedPlan.toString)
  }

  test("scalable robots gate is a distributed anti-join, nothing driver-side") {
    val f = frontier.Seen.withUrlKeys(spark.range(50)
      .select(concat(lit("http://h"), (col("id") % 5).cast("string"),
        lit(".test/private/"), col("id").cast("string")).as("url"),
        col("id").as("seed_idx")))
    import spark.implicits._
    val rules = (0 until 100).map(i => s"h$i.test" -> "/private").toDF("host", "prefix")
    val plan = frontier.Robots.filterAllowedJoin(f, rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
  }

  test("url- and robots-gated frontier: the robots gate canonicalizes each url once") {
    // built the way WaveLoop builds its gated frame: url keys, the url
    // policy gate on canonical_url, then the robots gate on canonical_url
    import spark.implicits._
    val keyed = frontier.Seen.withUrlKeys(spark.range(50)
      .select(concat(lit("http://H"), (col("id") % 5).cast("string"),
        lit(".test/p/"), col("id").cast("string")).as("url"),
        col("id").as("seed_idx")))
    val g = graft.url.UrlGate.gate(keyed, "canonical_url", Seq("h1.test").toDF("host"), Seq("casino"))
    val urlOk = g.where(col("url_ok")).drop("url_ok", "url_reasons")
    val rules = frontier.Robots.parseAll(Map("h2.test" -> "User-agent: *\nDisallow: /p/2\n"))
    val gated = urlOk.where(frontier.Robots.allowedColFull(spark, rules, col("canonical_url")))
    // the keying projection canonicalizes once, the url gate's blocked-host
    // side twice (its host projection and not-null filter), and the robots
    // gate pushed below the projection once: host and path are read inside
    // one call (a gate over host_of(…) and url_path(…) made it five)
    val plan = gated.queryExecution.optimizedPlan.toString
    assert("canonicalize_url\\(".r.findAllMatchIn(plan).size == 4, plan)
  }

  test("minhash near-dups evaluate minhash_sig ZERO times in the final plan (staged once)") {
    import spark.implicits._
    val docs = spark.range(60).select(col("id"),
      concat(lit("alpha beta gamma delta epsilon zeta "), (col("id") % 7).cast("string")).as("text"))
    val result = graft.dedup.Dedup.minHashNearDups(docs, "id", "text")
    // the signature kernel (numHashes × shingles per row, the most
    // expensive text op in the repo) must run once per doc inside the
    // staging job — the final plan's three consumers read the staged rows,
    // so NO minhash_sig expression may appear in it
    val plan = result.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("minhash_sig"), plan)
    assert(result.count() >= 0) // and the plan actually executes
  }

  test("token packing: data windows are segment-partitioned, offsets broadcast") {
    val df = spark.range(5000).select(col("id").as("ord"), (col("id") % 37).as("tokens"))
    val packed = graft.pipeline.Pack.packByTokenBudget(df, "ord", "tokens", 512L, segments = 16)
    packed.collect() // finalize AQE
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    // the per-segment window over the DATA must be partitioned (bounded
    // per-task work); the only permissible global window is the one over
    // the ≤`segments`-row offsets aggregate
    val dataWindows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(dataWindows.exists(_.contains("_seg#")),
      s"expected a _seg-partitioned window:\n$plan")
  }

  test("simhash pair dedup shuffles bare (id_a, id_b, hamming), no sigs") {
    import spark.implicits._
    val docs = (0 until 40).map(i => (i.toLong, s"w$i x$i y$i z$i common words here"))
      .toDF("id", "text")
    val df = graft.dedup.Dedup.simHashNearDups(docs, "id", "text", maxDist = 10)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val dedups = df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.output.map(_.name).toSet == Set("id_a", "id_b", "hamming") => a
    }
    assert(dedups.nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(dedups.forall(_.child.output.forall(att => !att.name.contains("sig"))),
      df.queryExecution.optimizedPlan.toString)
  }

  test("whole text pipeline is one codegen'd map over the scan (no exchange)") {
    import spark.implicits._
    val pages = spark.createDataset(graft.fixtures.PageGen.pages(20)).toDF()
      .withColumn("html", col("html").cast("string"))
    val res = graft.pipeline.TextPipeline.results(pages)
    assert(countShuffles(res.queryExecution.executedPlan) == 0,
      res.queryExecution.executedPlan.toString)
  }

  test("page results: one page_results call per row, no ArrayTransform, same schema and rows") {
    import spark.implicits._
    import graft.functions.{chunk_text, extract_readable, hash_embed, PageResults}
    import org.apache.spark.sql.catalyst.expressions.ArrayTransform
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
    // staged through parquet: a local relation would fold the projection away
    val dir = java.nio.file.Files.createTempDirectory("planpages").toString + "/pages"
    spark.createDataset(graft.fixtures.PageGen.pages(40)).toDF().write.parquet(dir)
    val pages = spark.read.parquet(dir)
    val res = graft.pipeline.TextPipeline.results(pages)
    // the stage-by-stage composition the single expression replaced
    val staged = pages.withColumn("text", extract_readable(col("html").cast("string")))
      .withColumn("chunks", chunk_text(col("text")))
      .withColumn("embeddings", transform(col("chunks"), c => hash_embed(c)))
      .select(col("url"), col("text").as("full_text"), col("chunks"), col("embeddings"))
    assert(res.schema == staged.schema, res.schema.treeString)
    assert(res.schema.map(_.name) == Seq("url", "full_text", "chunks", "embeddings"))
    assert(res.schema("chunks").dataType == ArrayType(StringType, containsNull = false))
    assert(res.schema("embeddings").dataType ==
      ArrayType(ArrayType(FloatType, containsNull = false), containsNull = false))
    assert(res.orderBy("url").collect().toSeq == staged.orderBy("url").collect().toSeq)

    res.collect()
    val plan = res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exprs = plan.collect { case node => node.expressions }.flatten
    val calls = exprs.flatMap(_.collect { case e: PageResults => e })
    assert(calls.size == 1, plan.toString)
    assert(exprs.forall(_.find(_.isInstanceOf[ArrayTransform]).isEmpty), plan.toString)
    assert(countShuffles(plan) == 0, plan.toString)
  }

  test("benchmark-path kernels compile to direct calls, no reflection") {
    import spark.implicits._
    import graft.frontier.{Ledger, Seen}
    import org.apache.spark.sql.execution.debug.codegenString
    // the page_results contract and the frontier_probe shape: withUrlKeys
    // → Ledger.filterUnseen over a bloom bank; all over parquet scans
    val dir = java.nio.file.Files.createTempDirectory("plancodegen").toString
    spark.createDataset(graft.fixtures.PageGen.pages(10)).toDF().write.parquet(s"$dir/pages")
    (0 until 200).map(i => (s"HTTP://H${i % 7}.Test/p/$i", i.toLong)).toDF("url", "seed_idx")
      .write.parquet(s"$dir/cands")
    val cands = spark.read.parquet(s"$dir/cands")
    val ledger = new Ledger(spark, s"$dir/ledger", buckets = 4, expectedPerBucket = 1024)
    ledger.appendWithBlooms(Seen.withUrlKeys(cands.where(col("seed_idx") % 2 === 0))
      .select("url_hash", "canonical_url"), 0)
    val unseen = ledger.filterUnseen(Seen.withUrlKeys(cands), 0)
    val results = graft.pipeline.TextPipeline.results(spark.read.parquet(s"$dir/pages"))
    assert(unseen.count() == 100 && results.count() == 10)
    for ((df, calls) <- Seq(results -> Seq("pageResults("),
        unseen -> Seq("canonicalizeUrl(", "hostOf(", "mightContain("))) {
      df.collect()
      val code = codegenString(df.queryExecution.executedPlan)
      for (c <- calls) assert(code.contains(c), s"no $c in:\n$code")
      assert(!code.contains("java.lang.reflect"), code)
    }
  }

  test("repetition signals are a shuffle-free projection (quality gate in the scan)") {
    import graft.text.Repetition
    val docs = spark.range(100).select(col("id"),
      concat(lit("alpha beta gamma "), col("id").cast("string"),
        lit("\nalpha beta gamma "), col("id").cast("string")).as("text"))
    val res = docs.select(col("id"),
      Repetition.dupLineFrac(col("text")).as("dlf"),
      Repetition.excessCharFrac(col("text")).as("ecf"),
      Repetition.topBigramFrac(col("text")).as("tbf"))
    assert(countShuffles(res.queryExecution.executedPlan) == 0,
      res.queryExecution.executedPlan.toString)
  }

  test("adaptive gaps: one partial-aggregated exchange, 12-byte rows") {
    val metrics = spark.range(1000).select(
      concat(lit("h"), (col("id") % 50).cast("string"), lit(".test")).as("host"),
      when(col("id") % 3 === 0, 404).otherwise(200).as("status"))
    val gaps = graft.frontier.Scheduler.adaptiveGaps(metrics)
    gaps.collect() // execute THIS QueryExecution so AQE finalizes the plan
    // AQE hides the exchange inside a ShuffleQueryStage leaf, so count on
    // the printed final plan rather than the node tree
    // the printout repeats the tree under "== Initial Plan ==" — count only
    // the executed (final) section
    val plan = gaps.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    // map-side partial agg present → the exchange moves (host, partial sums)
    assert(plan.contains("partial_"), plan)
  }

  test("triangle census: every join equi-keyed (the hub-host m² guard)") {
    import spark.implicits._
    val edges = spark.range(500).select(
      concat(lit("h"), (col("id") % 40).cast("string")).as("src_host"),
      concat(lit("h"), ((col("id") * 3 + 1) % 40).cast("string")).as("dst_host"))
    val plan = graft.frontier.Rank.triangles(edges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("PQ search: codegen kernels, one rank exchange, no vectors past encode") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val top = graft.ann.Pq.topK(e, e.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3, m = 4, ksub = 4)
    top.count()
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("pq_encode") && plan.contains("pq_adc"), plan)
    // queries broadcast; the only shuffle is the per-query rank window
    assert(countShuffles(top.queryExecution.executedPlan) <= 1, plan)
  }

  test("IVFPQ: cell equi-join, no cartesian, both kernel families present") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = graft.ann.Pq.ivfTopK(e, e.where(col("vec_id") < 5),
      "vec_id", "vec_id", "embedding", k = 3, nlist = 8, nProbe = 2,
      m = 4, ksub = 4).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("ivf_cells") && plan.contains("pq_adc"), plan)
  }

  test("focused-crawl priorities: codegen anchors, equi-joins only") {
    import spark.implicits._
    val pages = spark.range(200).select(
      concat(lit("http://s"), (col("id") % 9).cast("string"), lit(".test/p/"),
        col("id").cast("string")).as("url"),
      concat(lit("<a href=\"http://t.test/t/"), (col("id") % 20).cast("string"),
        lit("\">topic words here</a>")).as("html"))
    val q = Seq((0L, "topic words")).toDF("qid", "qtext")
    val plan = graft.frontier.Anchors.focusPriorities(pages, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan)
    assert(plan.contains("extract_anchors"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions._
import graft.frontier.{Scheduler, Seen}

/** Driver contract (SURVEY.md §7 + builder prompt): `queries` exposes one
  * entry per implemented operator; `oracleSql` carries the DuckDB-checkable
  * ANSI-SQL twin over the SAME parquet tables. Column names and types are
  * aligned pairwise — the driver sorts columns by name and hashes values.
  *
  * Determinism rules used throughout:
  *  - every query ends in an ORDER BY on a unique key;
  *  - no raw double aggregates: sums go through `floor(x*scale)::BIGINT`
  *    (identical IEEE ops in both engines → identical integers), ratios are
  *    divisions of exact integers, similarity scores are either dropped from
  *    the output (rank instead) or rounded after identical arithmetic;
  *  - counts/ranks cast to BIGINT (DuckDB's native width).
  */
object SparkEntry {

  // ---------- table loaders -------------------------------------------------

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** [[docs]] re-spread across the session's cores — for KERNEL-HEAVY
    * queries only. The sf parquet files are written as a single row group,
    * so a plain scan is ONE task no matter how many cores exist and a
    * CPU-bound text kernel (tokenize, n-gram hash, window hash, HTML scan)
    * serializes behind it — measured as multi-hundred-ms single-task
    * stages in the q68/q105 traces (the same rationale as the headline
    * bench's `docsTimes` repartition). A scan that already yields at least
    * one partition per core — real scale, thousands of files — is kept
    * as is: the payload shuffle would only cost. Scan-bound queries keep
    * the plain `docs` for the same reason.
    */
  private def docsWide(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cores = s.sparkContext.defaultParallelism
    if (d.rdd.getNumPartitions < cores) d.repartition(cores) else d
  }
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
  private def orders(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/orders.parquet")
  private def customer(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")

  /** The synthetic frontier: documents = the webtext corpus, url derived from
    * (source, doc_id) — FIXTURES.md §1. Already-canonical form.
    */
  private def frontier(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      concat(lit("http://"), col("source"), lit(".test/docs/"),
        col("doc_id").cast("string")).as("url"),
      col("doc_id").as("seed_idx"),
      col("lang"))

  /** Messy-URL frontier (uppercase scheme/host, default port, dot-segments,
    * pct-encoded unreserved, fragment) for the canonicalizer.
    */
  private def messyFrontier(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      concat(lit("HTTP://"), upper(col("source")), lit(".Test:80/docs/"),
        col("doc_id").cast("string"), lit("/./view?x=%7Eok#frag")).as("url"),
      col("doc_id").as("seed_idx"))

  /** Near-duplicate corpus: every 7th document re-appears (id+100000) with a
    * short tail appended — Jaccard ≈ 0.85-0.95 vs its original.
    */
  private def nearDupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id").as("id"), col("text"))
    val tails = docs(s, dir).where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("id"),
        concat(col("text"), lit(" extra tail words appended here")).as("text"))
    d.unionByName(tails)
  }

  /** Exact-duplicate corpus: every 5th document duplicated verbatim.
    * Built wide: its consumers (digest dedup, stride-1 window hashing in
    * q59/q60) are kernel-heavy.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docsWide(s, dir).select(col("doc_id").as("id"), col("text"))
    val dups = docsWide(s, dir).where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("id"), col("text"))
    d.unionByName(dups)
  }

  private val StopwordsSql: String =
    graft.text.TextStats.LangMarkers.flatMap(_._2).map(w => s"'$w'").mkString(", ")

  /** q17's axis-sign SRP buckets: 16 tables × 4 bits, table t reads dims
    * [4t, 4t+4) of the 64-dim embedding. Kept 1:1 with [[q17BucketSqlList]].
    */
  private def q17Buckets: Seq[Column] = (0 until 16).map { t =>
    (0 until 4).map { j =>
      when(element_at(col("embedding"), t * 4 + j + 1) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** q29/q30's page: strip-tag junk, h2, p with the document text, and the
    * nested-li duplication quirk — every piece of the extractor contract,
    * reconstructible by the DuckDB oracle as a string expression.
    * Expected extraction: "Doc N\n<text>\nalpha N beta N\nbeta N".
    */
  private def q29Html: Column = concat(
    lit("<html><head><title>x</title></head><body><nav><p>menu junk</p></nav><h2>Doc "),
    col("doc_id").cast("string"),
    lit("</h2><p>"), col("text"),
    lit("</p><ul><li>alpha "), col("doc_id").cast("string"),
    lit("<ul><li>beta "), col("doc_id").cast("string"),
    lit("</li></ul></li></ul><script>var x=1;</script></body></html>"))

  /** DuckDB twin of [[q17Buckets]] as a list literal, table-tagged so
    * `list_has_any` means "same bucket in ≥1 table".
    */
  private val q17BucketSqlList: String = (0 until 16).map { t =>
    val bits = (0 until 4)
      .map(j => s"(CASE WHEN embedding[${t * 4 + j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"(${16 * t} + $bits)"
  }.mkString("[", ", ", "]")

  // ---------- flagship ------------------------------------------------------

  /** Flagship: the politeness-scheduled crawl order of the sf0.001 frontier —
    * canonicalize → key → dedup → per-host slot schedule → global order.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_schedule")(spark, "/root/testdata/sf0.001")

  // ---------- queries -------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- frontier: canonicalization / dedup / schedule / seen-set ---------
    "q01_canonicalize" -> ((s, dir) => {
      Seen.withUrlKeys(messyFrontier(s, dir))
        .select(col("seed_idx"), col("url"), col("canonical_url"), col("host"), col("host_rev"))
        .orderBy("seed_idx")
    }),

    "q02_seen_dedup" -> ((s, dir) => {
      val base = frontier(s, dir).select("url", "seed_idx")
      val dups = frontier(s, dir).where(col("seed_idx") % 3 === 0)
        .select(col("url"), (col("seed_idx") + 10000L).as("seed_idx"))
      Seen.dropInWaveDuplicates(Seen.withUrlKeys(base.unionByName(dups)))
        .select(col("seed_idx"), col("canonical_url"))
        .orderBy("seed_idx")
    }),

    "q03_schedule" -> ((s, dir) => {
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("url", "canonical_url", "url_hash", "host", "host_rev", "seed_idx")
      val sched = Scheduler.schedule(f, gapSeconds = 3L, salted = true)
      sched
        .withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
        // window is a single-task sort — never copy into a production path;
        // the production rank is Scheduler.perHostRankSalted.
        row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("seed_idx")))
            .cast("long"))
        .select(col("fetch_seq"), col("slot"), col("host_rev"), col("canonical_url"),
          col("seed_idx"), col("host_pos"))
        .orderBy("fetch_seq")
    }),

    "q04_host_stats" -> ((s, dir) => {
      Seen.withUrlKeys(frontier(s, dir))
        .groupBy(col("host_rev"))
        .agg(count(lit(1)).as("n_urls"),
          min(col("seed_idx")).as("min_seed"),
          max(col("seed_idx")).as("max_seed"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("host_rev")
    }),

    "q05_bloom_unseen" -> ((s, dir) => {
      val cands = Seen.withUrlKeys(frontier(s, dir))
      val seen = cands.where(col("seed_idx") % 2 === 0)
        .select("url_hash", "canonical_url")
      Seen.filterUnseen(cands, seen)
        .select(col("seed_idx"), col("canonical_url"))
        .orderBy("seed_idx")
    }),

    // --- text pipeline ------------------------------------------------------
    "q06_preprocess" -> ((s, dir) => {
      val messy = concat(lit("\t "),
        regexp_replace(col("text"), " merge ", " \n\n merge "), lit(" \t"))
      docs(s, dir)
        .select(col("doc_id"), preprocess_text(messy).as("clean"))
        .orderBy("doc_id")
    }),

    "q07_tokens" -> ((s, dir) => {
      val text2 = concat(col("text"), lit(" 42 ab9 x!"))
      docs(s, dir).select(
        col("doc_id"),
        size(split(trim(text2), "\\s+")).cast("long").as("n_ws"),
        token_count_bpe(text2).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }),

    "q08_langid" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), lang_id(col("text")).as("lang_guess"))
        .orderBy("doc_id")
    }),

    "q09_quality" -> ((s, dir) => {
      val stopwords = graft.text.TextStats.LangMarkers.flatMap(_._2)
      val toks = split(trim(col("text")), "\\s+")
      val nWords = size(toks).cast("long")
      docs(s, dir).select(
        col("doc_id"),
        nWords.as("n_words"),
        round(length(regexp_replace(trim(col("text")), "\\s+", ""))
          .cast("double") / nWords, 6).as("mean_word_len"),
        round(size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / nWords, 6)
          .as("stop_ratio"))
        .orderBy("doc_id")
    }),

    "q10_extract_roundtrip" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), regexp_replace(col("text"), " ", "  "),
        lit("</p><script>var x = 1;</script></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), extract_readable(html).as("extracted"))
        .orderBy("doc_id")
    }),

    "q11_chunks_identity" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), chunk_explode(col("text"), 100000, 50).as(Seq("chunk_id", "chunk")))
        .orderBy("doc_id", "chunk_id")
    }),

    "q12_chunks_guard" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), chunk_explode(col("text"), 16, 5).as(Seq("chunk_id", "chunk")))
        .orderBy("doc_id", "chunk_id")
    }),

    "q13_chunks_default" -> ((s, dir) => {
      // multi-paragraph document through the accumulate/flush/overlap path:
      // paragraphs [T', T', "the end"] with T' = text + 8 pad words. The pads
      // guarantee wordCount(T') ≥ 18, so every paragraph pair overflows
      // maxWords=32 and each flush window-splits T' — the exact shape the
      // DuckDB oracle reproduces with list slicing (overlap = last 8 words
      // of the PRE-overlap previous chunk, reference :155-164).
      val para = concat(col("text"), lit(" p1 p2 p3 p4 p5 p6 p7 p8"))
      val multi = concat(para, lit("\n"), para, lit("\nthe end"))
      docs(s, dir)
        .select(col("doc_id"), chunk_explode(multi, 32, 8).as(Seq("chunk_id", "chunk")))
        .withColumn("n_words", size(split(trim(col("chunk")), "\\s+")).cast("long"))
        .orderBy("doc_id", "chunk_id")
    }),

    // --- embeddings / similarity -------------------------------------------
    "q14_embed_norm" -> ((s, dir) => {
      val emb = hash_embed(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        size(emb).cast("long").as("dim"),
        round(sqrt(aggregate(transform(emb, x => x.cast("double")),
          lit(0.0d), (acc, x) => acc + x * x)), 3).as("norm"))
        .orderBy("doc_id")
    }),

    "q15_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.ann.Ann.bruteForceTopK(
        e, e.where(col("vec_id") < 10), "vec_id", "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("nn_id"))
        .orderBy("q_id", "rank")
    }),

    "q16_ann_lsh" -> ((s, dir) => {
      // LSH-bucketed ANN through the generic bucketed kernel with the
      // axis-sign bucketer (the q17 pattern): candidate generation AND
      // exact-cosine ranking are both SQL-expressible, so the full
      // approximate top-k is oracle-gated. The murmur-hyperplane default
      // (Ann.lshTopK) stays recall-pinned in DedupAnnSpecs.
      val e = embeddings(s, dir)
      graft.ann.Ann.lshTopKBucketed(
        e, e.where(col("vec_id") < 10), "vec_id", "vec_id", "embedding",
        k = 5, q17Buckets)
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("nn_id"))
        .orderBy("q_id", "rank")
    }),

    "q36_audio_features" -> ((s, dir) => {
      // REAL WAV decode: the bytes are standards-conformant RIFF/WAVE PCM16
      // streams (graft.multimodal.Wav). Planted sample j of asset i is
      // ((i*11 + j*3) mod 256 − 128) × 256 — the ×256 makes the normalized
      // value exactly v/128, so the DuckDB oracle recomputes the rms from
      // the same arithmetic without knowing the codec.
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
      val assets = ids.map { i =>
        val samples = Array.tabulate(64)(j =>
          (((i * 11 + j * 3) % 256 - 128) * 256).toShort)
        graft.multimodal.Multimodal.Asset(i, "audio",
          graft.multimodal.Wav.encode(8000 + (i % 3).toInt * 4000, 1, samples),
          s"http://aud.test/$i")
      }
      graft.multimodal.Multimodal.audioFeatures(assets).toDF()
        .select(col("asset_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"),
          round(col("rms"), 6).as("rms"))
        .orderBy("asset_id")
    }),

    "q37_video_frames" -> ((s, dir) => {
      // REAL video decode: each asset is a gVID container of 24 genuine PNG
      // frames; the sampler seeks the index and inflates only frames
      // 0/6/12/18. Frame f of asset i is a constant-luma image of value
      // (i*13 + f*5) mod 256 — constant so the mean is oracle-recomputable,
      // while still passing through a real per-frame inflate + unfilter
      // (Sub-filtered rows are non-trivial even for constant pixels).
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
      val assets = ids.map { i =>
        val w = 32 + (i % 4).toInt * 16
        val h = 24 + (i % 3).toInt * 12
        val frames = (0 until 24).map { f =>
          val v = ((i * 13 + f * 5) % 256).toByte
          graft.multimodal.Png.encode(w, h, 1, Array.fill(w * h)(v))
        }
        graft.multimodal.Multimodal.Asset(i, "video",
          graft.multimodal.Vid.encode(w, h, frames), s"http://vid.test/$i")
      }
      graft.multimodal.Multimodal.videoFrames(assets, everyK = 6).toDF()
        .select(col("asset_id"), col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_luma").cast("long").as("luma"))
        .orderBy("asset_id", "frame_idx")
    }),

    "q35_ann_ivf" -> ((s, dir) => {
      // IVF multi-probe ANN through the generic assigned-cells kernel:
      // cells = axis-sign of the first 4 components (locality-sensitive,
      // SQL-expressible), probes = [own cell, lowest-bit flip] — the whole
      // cell-partitioned probe machinery is oracle-gated. The kmeans
      // quantizer default (Ann.ivfTopK) stays recall/determinism-pinned in
      // DedupAnnSpecs.
      val e = embeddings(s, dir)
      val cell = (0 until 4).map(j =>
        when(element_at(col("embedding"), j + 1) >= 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _)
      graft.ann.Ann.ivfTopKAssigned(e, e.where(col("vec_id") < 10),
        "vec_id", "vec_id", "embedding", k = 5,
        cell, array(cell, cell.bitwiseXOR(lit(1))))
        .select(col("q_id"), col("rank").cast("long").as("rank"), col("nn_id"))
        .orderBy("q_id", "rank")
    }),

    "q17_near_dup_cosine" -> ((s, dir) => {
      // LSH-bucketed exact-scored near-dup (NO cartesian — PlanSpec pins it).
      // The bucketer here is axis-sign SRP (hyperplanes = the standard basis,
      // table t over dims [4t, 4t+4)) — locality-sensitive for cosine like
      // random hyperplanes, but SQL-expressible so the DuckDB oracle computes
      // the IDENTICAL candidate set. The default murmur-hyperplane bucketer
      // (Dedup.cosineNearDups) is recall-tested in DedupAnnSpecs instead.
      graft.dedup.Dedup.cosineNearDupsBucketed(
        embeddings(s, dir), "vec_id", "embedding", 0.4, q17Buckets)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 3).as("cos3"))
        .orderBy("id_a", "id_b")
    }),

    // --- dedup ---------------------------------------------------------------
    "q18_exact_dedup" -> ((s, dir) => {
      graft.dedup.Dedup.exactDuplicates(dupCorpus(s, dir), "id", "text")
        .select(col("keep_id"), col("n_dups"))
        .orderBy("keep_id")
    }),

    "q19_minhash_jaccard" -> ((s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      val cands = graft.dedup.Dedup.minHashCandidates(corpus, "id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 4)
      graft.dedup.Dedup.verifyJaccard(cands, corpus, "id", "text", shingleK = 3)
        .where(col("jaccard") >= 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jacc6"))
        .orderBy("id_a", "id_b")
    }),

    "q20_simhash_pairs" -> ((s, dir) => {
      // ORACLE-GATED variant (the q17 axis-sign pattern): the block-rotation
      // join runs on an ARITHMETIC 64-bit signature both engines compute —
      // planted groups of 4 docs differ only in their low 2 bits, and the
      // pigeonhole block scheme is EXACT for hamming ≤ maxDist, so DuckDB
      // recomputes the full result as "all pairs within maxDist" without
      // knowing about blocks. The production murmur kernel (simhash64) is
      // spec-pinned against this same join in DedupAnnSpecs.
      val sigs = docs(s, dir)
        .withColumn("b", expr("(doc_id DIV 4) * 1099511628211 % 1099511627776"))
        .select(col("doc_id").as("id"),
          expr("(shiftleft(b, 20) | b) ^ (doc_id % 4)").as("sig"))
      graft.dedup.Dedup.simHashNearDupsFromSigs(sigs, maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "q21_fingerprint_overlap" -> ((s, dir) => {
      // ORACLE-GATED variant: arithmetic print sets — 5-doc groups share a
      // planted print run, and one UNIVERSAL print exceeds the doc-freq cap
      // (df = all docs > 50) and must be dropped, so the cap's effect is
      // inside the green gate, not just a skew spec. Production winnowing
      // kernel (fingerprints expr) stays spec-pinned in DedupAnnSpecs.
      val d = docs(s, dir)
      val planted = d.select(col("doc_id").as("id"),
          explode(sequence(lit(0L), lit(3L) + col("doc_id") % 2)).as("j"))
        .select(col("id"), expr("(id DIV 5) * 100 + j").as("print"))
      val universal = d.select(col("doc_id").as("id"), lit(999999999L).as("print"))
      graft.dedup.Dedup.fingerprintOverlapFromPrints(
          planted.unionByName(universal), minShared = 2, maxDocFreq = 50)
        .orderBy("id_a", "id_b")
    }),

    // --- events (discovery-stream proxy): windows, dates, json --------------
    "q22_events_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"))
        .orderBy("user_id")
    }),

    "q23_events_daily" -> ((s, dir) => {
      events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 1000).cast("long")).as("sum_milli"))
        .orderBy("day")
    }),

    "q24_events_json" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),

    // --- relational coverage: agg / join / window top-k ----------------------
    "q25_lineitem_agg" -> ((s, dir) => {
      lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("base_cents"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q26_join_topk" -> ((s, dir) => {
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("revenue_cents").desc, col("c_custkey"))
        .limit(10)
    }),

    "q27_window_topk" -> ((s, dir) => {
      val cents = floor(col("o_totalprice") * 100).cast("long")
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(cents.desc, col("o_orderkey"))
      orders(s, dir)
        .withColumn("cents", cents)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"), col("cents"))
        .orderBy("o_orderpriority", "rnk")
    }),

    // --- multimodal + full page pipeline (documents-derived inputs so every
    //     query has a DuckDB oracle; the PageGen byte-identity invariant
    //     stays covered by HtmlTextSpec/PageTableSpec fixtures) --------------
    "q28_multimodal_features" -> ((s, dir) => {
      // REAL PNG decode: bytes are genuine deflate-compressed, Sub-filtered
      // grayscale PNG streams (graft.multimodal.Png); pixel (x, y) of asset
      // i is (i*7 + y*w + x) mod 256. The oracle recomputes the 8x8-block
      // mean arithmetically (stride-dependent — a wrong unfilter or stride
      // cannot fake it) and the full mean is exactly 127.5 because w*h is a
      // multiple of 256 (whole value cycles).
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id")).as[Long]
      val assets = ids.map { i =>
        val w = 64 + (i % 8).toInt * 32
        val h = 48 + (i % 5).toInt * 32
        val px = Array.tabulate(w * h)(j => ((i * 7 + j) % 256).toByte)
        graft.multimodal.Multimodal.Asset(i, "image",
          graft.multimodal.Png.encode(w, h, 1, px), s"http://img.test/$i")
      }
      graft.multimodal.Multimodal.pngFeatures(assets).toDF()
        .join(assets.toDF().select(col("asset_id"), col("source_url")), "asset_id")
        .select(col("asset_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          round(col("mean_luma"), 6).as("mean_luma"),
          round(col("mean_luma8"), 6).as("mean_luma8"),
          col("source_url"))
        .orderBy("asset_id")
    }),

    "q29_pages_extract" -> ((s, dir) => {
      // nav junk stripped, h2 + p + nested-li quirk collected — the full
      // extractor contract over a DuckDB-reconstructible page
      docs(s, dir)
        .select(col("doc_id"), extract_readable(q29Html).as("extracted"))
        .orderBy("doc_id")
    }),

    "q30_pipeline_results" -> ((s, dir) => {
      val pages = docs(s, dir).select(
        concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"),
        q29Html.as("html"))
      graft.pipeline.TextPipeline.results(pages)
        .select(col("url"), size(col("chunks")).cast("long").as("n_chunks"),
          size(col("embeddings")).cast("long").as("n_embeddings"),
          length(col("full_text")).cast("long").as("n_chars"))
        .orderBy("url")
    }),

    "q31_pagetable_fetch" -> ((s, dir) => {
      // source/sink roundtrip through the snapshot-versioned bucketed pages
      // table: commit → read latest → frontier⋈pages fetch replay
      val root = java.nio.file.Files.createTempDirectory("graft_pt").toString
      val pages = docs(s, dir).select(
        concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"),
        to_timestamp(lit("2024-01-01 00:00:00")).as("warc_ts"),
        encode(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")),
          "UTF-8").as("html"),
        col("text"), col("lang"))
      graft.sources.PageTable.commit(s, root, pages)
      val stored = graft.sources.PageTable.read(s, root)
      val fr = docs(s, dir).where(col("doc_id") % 3 === 0)
        .select(concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"))
      graft.sources.PageTable.fetch(fr, stored, withHtml = false)
        .select(col("url"), length(col("text")).cast("long").as("n_chars"), col("lang"))
        .orderBy("url")
    }),

    // --- link discovery + fetch metrics (north rule) -------------------------
    "q33_extract_links" -> ((s, dir) => {
      // one page per document carrying an absolute-path, a relative, an
      // external-with-default-port, and a mailto href — the resolver must
      // canonicalize the first three and null out the fourth
      val base = concat(lit("http://"), col("source"), lit(".test/docs/"),
        col("doc_id").cast("string"), lit("/view"))
      val html = concat(
        lit("<html><body><p>t</p><a href=\"/docs/"), col("doc_id").cast("string"),
        lit("/next\">n</a><a href='rel/"), (col("doc_id") % 97).cast("string"),
        lit("'>r</a><a href=\"http://Ext.test:80/e/"), col("doc_id").cast("string"),
        lit("#f\">e</a><a href=\"mailto:a@b.c\">m</a></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), base.as("base"),
          posexplode(graft.functions.extract_links(html)).as(Seq("pos", "href")))
        .select(col("doc_id"), col("pos"),
          graft.functions.resolve_url(col("base"), col("href")).as("link"))
        .where(col("link").isNotNull)
        .orderBy("doc_id", "pos")
    }),

    "q34_fetch_status" -> ((s, dir) => {
      // full status taxonomy: pages exist only for even doc_ids (odd = 404
      // join miss); even doc_id % 10 == 6 pages carry junk-only html (the
      // extractor gets nothing → 422 PARSE_ERROR); a parsed robots rule
      // denies the /docs/7* path space (451 ROBOTS_DENIED, checked before
      // the fetch); the rest are 200 with parse metrics (16/5 guard config)
      val fr = frontier(s, dir).select("url", "seed_idx")
      val pg = docs(s, dir).where(col("doc_id") % 2 === 0)
        .select(concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"),
          when(col("doc_id") % 10 === 6,
            lit("<html><body><script>var x = 1;</script></body></html>"))
            .otherwise(concat(lit("<html><body><p>"), col("text"), lit("</p></body></html>")))
            .as("html"))
      val robots = graft.frontier.Robots.FullRules(Map.empty,
        graft.frontier.Robots.parse("User-agent: *\nDisallow: /docs/7\n"))
      graft.frontier.Discover.fetchParse(fr, pg, maxWords = 16, overlap = 5, robots = robots)
        .select(col("seed_idx"), col("status"), col("n_chars"), col("n_chunks"))
        .orderBy("seed_idx")
    }),

    "q38_schedule_perhost_gap" -> ((s, dir) => {
      // per-host politeness from a PARSED robots.txt: each host's body has a
      // decoy group for another agent, a '*' group with an Allow rule and a
      // host-derived Crawl-delay — group selection, rule attachment and the
      // delay all sit in the oracle-gated path; slot = (host_pos-1) × gap(h)
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("url", "canonical_url", "url_hash", "host", "host_rev", "seed_idx")
      val txt = concat(
        lit("# robots for "), col("host"),
        lit("\nUser-agent: other-bot\nDisallow: /\n\nUser-agent: *\nAllow: /docs\nCrawl-delay: "),
        (lit(1) + pmod(length(col("host")), lit(5))).cast("string"))
      val withGap = f.withColumn("gap_seconds", graft.functions.robots_gap_seconds(txt))
      val sched = Scheduler.schedule(withGap, gapSeconds = 3L, salted = true,
        gapCol = Some(col("gap_seconds")))
      sched
        .withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
        // window is a single-task sort — never copy into a production path;
        // the production rank is Scheduler.perHostRankSalted.
        row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("seed_idx")))
            .cast("long"))
        .select(col("fetch_seq"), col("slot"), col("host_rev"), col("canonical_url"),
          col("seed_idx"), col("host_pos"), col("gap_seconds"))
        .orderBy("fetch_seq")
    }),

    "q39_corpus_pipeline" -> ((s, dir) => {
      // THE composed training-data job: extract → chunk → exact-dedup the
      // chunks (digest groupBy via Dedup.exactDedupKeepIds — 16 B/row on the
      // dedup shuffle, text joins back by key) → quality gate → embed.
      // Corpus = dupCorpus (every 5th doc duplicated), so the dedup stage
      // genuinely collapses work; chunk config (16, 5) = the q12 oracle
      // window shape.
      val corpus = dupCorpus(s, dir)
      val chunks = corpus
        .select(col("id"),
          extract_readable(concat(lit("<html><body><p>"), col("text"),
            lit("</p></body></html>"))).as("text"))
        .select(col("id"), chunk_explode(col("text"), 16, 5).as(Seq("chunk_id", "chunk")))
        .select((col("id") * 100000L + col("chunk_id")).as("key"), col("chunk"))
      val kept = graft.dedup.Dedup.exactDedupKeepIds(chunks, "key", "chunk")
      val surviving = chunks.join(kept.select(col("keep_id").as("key")), "key")
      val emb = hash_embed(col("chunk"))
      surviving
        .withColumn("n_words", size(split(trim(col("chunk")), "\\s+")).cast("long"))
        .where(col("n_words") >= 16) // quality gate: fragments dropped
        .select(col("key").as("keep_key"), col("chunk"), col("n_words"),
          size(emb).cast("long").as("dim"),
          round(sqrt(aggregate(transform(emb, x => x.cast("double")),
            lit(0.0d), (acc, x) => acc + x * x)), 3).as("norm"))
        .orderBy("keep_key")
    }),

    "q40_dup_clusters" -> ((s, dir) => {
      // duplicate GROUPS from pairwise near-dup output: the q19 pair set
      // (LSH candidates, exact-Jaccard verified ≥ 0.7) → connected
      // components (alternating star, O(log n) rounds) → (id, cluster_id =
      // component min). The oracle recomputes the same clusters with a
      // recursive transitive-closure CTE over the same SQL pair set.
      val corpus = nearDupCorpus(s, dir)
      val cands = graft.dedup.Dedup.minHashCandidates(corpus, "id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 4)
      val pairs = graft.dedup.Dedup.verifyJaccard(cands, corpus, "id", "text", shingleK = 3)
        .where(col("jaccard") >= 0.7)
        .select("id_a", "id_b")
      graft.dedup.Components.connectedComponents(pairs)
        .select(col("id"), col("cluster_id"))
        .orderBy("id")
    }),

    "q41_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals over a planted multi-line
      // fixture: text + a 40-char prefix line REPEATED (dup-line mass) + a
      // unique trailer line for every 4th doc (varies n_lines)
      import graft.text.Repetition
      val rep = concat(col("text"), lit("\n"),
        substring(col("text"), 1, 40), lit("\n"),
        substring(col("text"), 1, 40),
        when(col("doc_id") % 4 === 0,
          concat(lit("\nunique trailer "), col("doc_id").cast("string")))
          .otherwise(lit("")))
      val st = Repetition.statsCol(rep)
      docs(s, dir).select(
        col("doc_id"),
        st.getField("n_lines").cast("long").as("n_lines"),
        round(st.getField("dup_line_frac"), 6).as("dup_line_frac"),
        round(st.getField("excess_char_frac"), 6).as("excess_char_frac"),
        round(Repetition.topBigramFrac(col("text")), 6).as("top_bigram_frac"))
        .orderBy("doc_id")
    }),

    "q45_cluster_dedup" -> ((s, dir) => {
      // the clustering put to use: survivors = one representative per
      // near-dup cluster (the component min), singletons pass through the
      // left join untouched — the row-level delete set a 100 TB dedup run
      // actually applies
      val corpus = nearDupCorpus(s, dir)
      val cands = graft.dedup.Dedup.minHashCandidates(corpus, "id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 4)
      val pairs = graft.dedup.Dedup.verifyJaccard(cands, corpus, "id", "text", shingleK = 3)
        .where(col("jaccard") >= 0.7)
        .select("id_a", "id_b")
      val labels = graft.dedup.Components.connectedComponents(pairs)
      corpus.join(labels, Seq("id"), "left")
        .where(col("cluster_id").isNull || col("cluster_id") === col("id"))
        .select(col("id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("id")
    }),

    "q53_training_shards" -> ((s, dir) => {
      // capstone composition — the training-data pipeline end to end:
      // quality gate (token floor) → exact dedup (survivor per text) →
      // token-budget packing → per-shard stats. Every stage is the real
      // operator; the oracle replays the same algebra in SQL (text-equality
      // dedup ≡ the digest dedup absent 64-bit collisions).
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      val gated = d.where(col("tokens") >= 30)
      val keep = graft.dedup.Dedup.exactDedupKeepIds(gated, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val survivors = gated.join(keep, Seq("doc_id")).select("doc_id", "tokens")
      graft.pipeline.Pack.packByTokenBudget(survivors, "doc_id", "tokens", budget = 256L)
        .groupBy(col("bin_start").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("tokens"),
          max(col("bins_spanned")).as("max_span"))
        .orderBy("shard")
    }),

    "q52_mean_pool" -> ((s, dir) => {
      // chunk→doc embedding pooling through the vec_sum_agg imperative
      // aggregate (one double[dim] buffer per group). Components are small
      // INTEGERS ((doc_id + 3j) mod 7) so the group sums are exact in any
      // accumulation order — the only way a float aggregate can be
      // hash-compared across engines.
      val chunkVecs = docs(s, dir).select(
        (col("doc_id") % 40).as("k"),
        transform(sequence(lit(0L), lit(7L)),
          j => ((col("doc_id") + j * 3) % 7).cast("float")).as("vec"))
      graft.ann.Ann.meanPool(chunkVecs, "k", "vec")
        .select(col("k"),
          round(element_at(col("doc_embedding"), 1).cast("double"), 6).as("c1"),
          round(element_at(col("doc_embedding"), 4).cast("double"), 6).as("c4"),
          round(element_at(col("doc_embedding"), 8).cast("double"), 6).as("c8"))
        .orderBy("k")
    }),

    "q51_warc_pages" -> ((s, dir) => {
      // REAL WARC derivation of the input table: docs → conformant WARC
      // response records (HTTP/1.1 message payloads), ~10 records per file
      // image plus a warcinfo record the pages view must filter, parsed
      // back by the real record walker. Oracle = the documents themselves.
      import s.implicits._
      val rows = docs(s, dir).select(
        col("doc_id"),
        concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"),
        col("text")).as[(Long, String, String)]
      val blobs = rows.groupByKey(_._1 / 10).mapGroups { (_, it) =>
        val recs = it.toSeq.sortBy(_._1).map { case (_, url, text) =>
          graft.sources.Warc.writeRecord("response", url,
            "2024-01-01T00:00:00Z", text.getBytes("UTF-8"))
        }
        graft.sources.Warc.writeFile(
          graft.sources.Warc.writeRecord("warcinfo", "",
            "2024-01-01T00:00:00Z", "software: graft\r\n".getBytes("UTF-8")) +: recs)
      }.toDF("warc")
      graft.sources.Warc.pages(blobs)
        .select(col("url"),
          length(col("html").cast("string")).cast("long").as("n_chars"),
          date_format(col("warc_ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        .orderBy("url")
    }),

    "q54_pagerank" -> ((s, dir) => {
      // iterative link authority (3 rounds, d=0.85) over a planted graph —
      // the full version of q50's one-step in-degree. The oracle unrolls
      // the same three iterations as chained CTEs; scores round to 6
      // decimals (double accumulation order differs by ulps across
      // engines, never by 1e-6).
      val edges = docs(s, dir)
        .select(col("doc_id").as("src"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(col("src"), ((col("src") * 7 + col("j") * 13) % 211).as("dst"))
      graft.frontier.Rank.pageRank(edges, iters = 3)
        .select(col("node"), round(col("score"), 6).as("score"))
        .orderBy("node")
    }),

    "q58_authority_schedule" -> ((s, dir) => {
      // the WaveLoop authority channel's arithmetic, composed end to end at
      // fixture scale: PageRank over the planted q54 graph → rank-based
      // priority (integer, deterministic at the q54 round(…,6) contract) →
      // packed priorityOrderKey → the salted politeness schedule. This is
      // the oracle twin of WaveLoop(edgesOf=…) — high-authority urls fetch
      // first within each host, discovery order breaks ties.
      val edges = docs(s, dir)
        .select(col("doc_id").as("src"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(col("src"), ((col("src") * 7 + col("j") * 13) % 211).as("dst"))
      val pri = graft.frontier.Rank.pageRank(edges, iters = 3)
        .select(col("node"), round(col("score"), 6).as("score"))
        .withColumn("priority",
          // FIXTURE-ONLY global rank (≤ |nodes| rows): production packs
          // floor(score×100) directly — see WaveLoop's authority join
          row_number().over(Window.orderBy(col("score").asc, col("node").asc))
            .cast("long"))
        .select(col("node").as("target"), col("priority"))
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("canonical_url", "host_rev", "seed_idx")
        .join(pri, col("seed_idx") === col("target"), "left")
        .withColumn("priority", coalesce(col("priority"), lit(0L)))
        .withColumn("order_key",
          Scheduler.priorityOrderKey(col("priority"), col("seed_idx")))
        .drop("target")
      Scheduler.schedule(f, gapSeconds = 3L, salted = true, orderCol = "order_key")
        .withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
          // window is a single-task sort — never copy into a production path;
          // the production rank is Scheduler.perHostRankSalted.
          row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("order_key")))
            .cast("long"))
        .select(col("fetch_seq"), col("slot"), col("host_rev"), col("canonical_url"),
          col("seed_idx"), col("priority"), col("host_pos"))
        .orderBy("fetch_seq")
    }),

    "q64_page_directives" -> ((s, dir) => {
      // meta-robots + rel-canonical extraction: four planted variants
      // (comma list, case+single-quote, canonical link, commented-out meta
      // that must NOT count) — the crawl-politeness signals read from the
      // page itself.
      val html = concat(
        lit("<html><head><title>t</title>"),
        when(col("doc_id") % 4 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .when(col("doc_id") % 4 === 1,
            lit("<meta name='ROBOTS' content='NOFOLLOW'>"))
          .when(col("doc_id") % 4 === 2,
            concat(lit("<link rel=\"canonical\" href=\"http://c.test/"),
              col("doc_id").cast("string"), lit("\">")))
          .otherwise(lit("<!-- <meta name=\"robots\" content=\"noindex\"> -->")),
        lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), graft.functions.page_directives(html).as("d"))
        .select(col("doc_id"), col("d.noindex").as("noindex"),
          col("d.nofollow").as("nofollow"), col("d.canonical").as("canonical"))
        .orderBy("doc_id")
    }),

    "q65_line_dedup" -> ((s, dir) => {
      // CCNet-style corpus-level line dedup: every doc carries a universal
      // header line (df = all docs → dropped), a per-source footer (df = 25
      // ≥ the cap → dropped), a pair line shared by exactly 2 docs (df = 2
      // < cap → KEPT: duplicated is not boilerplate until it crosses the
      // doc-frequency bar), its own text line, and a unique tail.
      val corpus = docsWide(s, dir).select(col("doc_id"),
        concat(lit("shared header boilerplate line\n"), col("text"),
          lit("\nfooter for "), col("source"),
          lit("\npair line "), (col("doc_id") / 2).cast("long").cast("string"),
          lit("\nunique tail "), col("doc_id").cast("string")).as("text"))
      graft.dedup.Dedup.dropDuplicateLines(corpus, "doc_id", "text",
          maxDocFreq = 20)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
          col("text_clean"))
        .orderBy("doc_id")
    }),

    "q82_link_density" -> ((s, dir) => {
      // link-density boilerplate signal: every page carries two nav links
      // ('nav0'/'nav1', 8 anchor chars), every fourth page a 3-link menu
      // block (15 more) — densities are exact integer ppm over the text's
      // non-whitespace chars, so the oracle computes them arithmetically
      // without parsing (the anchors kernel is oracle-gated by q79).
      val html = concat(
        lit("<html><body><p>"), col("text"), lit("</p>"),
        lit("<a href=\"/n/0\">nav0</a> <a href=\"/n/1\">nav1</a>"),
        when(col("doc_id") % 4 === 0,
          lit("<div><a href=\"/m/0\">menu0</a><a href=\"/m/1\">menu1</a>" +
            "<a href=\"/m/2\">menu2</a></div>")).otherwise(lit("")),
        lit("</body></html>"))
      graft.text.CorpusFilter.linkDensity(
          docs(s, dir).select(col("doc_id"), html.as("html"), col("text")),
          "html", "text")
        .select(col("doc_id"), col("n_links"), col("anchor_chars"),
          col("text_chars"), col("link_density_ppm"))
        .orderBy("doc_id")
    }),

    "q83_canonical_collapse" -> ((s, dir) => {
      // rel=canonical URL collapse: groups of 4 urls on one host — the
      // target page (declares nothing, except every 5th group where it
      // declares a NEVER-FETCHED /a/missing target — the rep falls back
      // to the min member), an absolute declarer, a ROOT-RELATIVE
      // declarer (exercises RFC 3986 resolution), and a mailto declarer
      // (non-http target → self-canonical, broken declarations never
      // delete pages).
      val g = (col("doc_id") / 4).cast("long")
      val self = concat(lit("http://h"), (g % 20).cast("string"),
        lit(".test/a/"), col("doc_id").cast("string"))
      val html = concat(
        lit("<html><head>"),
        when(col("doc_id") % 4 === 0 && g % 5 === 0,
          concat(lit("<link rel=\"canonical\" href=\"/a/missing"),
            g.cast("string"), lit("\">")))
          .when(col("doc_id") % 4 === 1,
            concat(lit("<link rel=\"canonical\" href=\"http://h"),
              (g % 20).cast("string"), lit(".test/a/"),
              (g * 4).cast("string"), lit("\">")))
          .when(col("doc_id") % 4 === 2,
            concat(lit("<link rel='canonical' href='/a/"),
              (g * 4).cast("string"), lit("'>")))
          .when(col("doc_id") % 4 === 3,
            lit("<link rel=\"canonical\" href=\"mailto:x@y.test\">"))
          .otherwise(lit("")),
        lit("</head><body><p>b</p></body></html>"))
      graft.url.Canonical.collapse(
          docs(s, dir).select(self.as("url"), html.as("html")))
        .orderBy("canonical_url")
    }),

    "q84_sitemap_refresh" -> ((s, dir) => {
      // sitemap-lastmod conditional refresh: per doc a 2-entry sitemap —
      // /a/{id} stamped date-only (even ids) or T12:30:45Z (odd ids),
      // /b/{id} unstamped. Fetch log: /a fetched 2024-01-15 (id%3=0,
      // stale iff lastmod newer) or 2024-02-01 (id%3=1, never stale);
      // id%3=2 never fetched. /b fetched 2024-01-10 for even ids — a null
      // lastmod can justify a first fetch but never a re-fetch.
      val day = lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0")
      val lm = when(col("doc_id") % 2 === 0, concat(lit("2024-01-"), day))
        .otherwise(concat(lit("2024-01-"), day, lit("T12:30:45Z")))
      val xml = concat(
        lit("<urlset><url><loc> http://s.test/a/"), col("doc_id").cast("string"),
        lit(" </loc><lastmod>"), lm, lit("</lastmod></url>"),
        lit("<url><loc>http://s.test/b/"), col("doc_id").cast("string"),
        lit("</loc></url></urlset>"))
      val fetchedA = docs(s, dir).where(col("doc_id") % 3 < 2).select(
        concat(lit("http://s.test/a/"), col("doc_id").cast("string")).as("url"),
        when(col("doc_id") % 3 === 0, to_timestamp(lit("2024-01-15 00:00:00")))
          .otherwise(to_timestamp(lit("2024-02-01 00:00:00"))).as("fetched_at"))
      val fetchedB = docs(s, dir).where(col("doc_id") % 2 === 0).select(
        concat(lit("http://s.test/b/"), col("doc_id").cast("string")).as("url"),
        to_timestamp(lit("2024-01-10 00:00:00")).as("fetched_at"))
      graft.frontier.Sitemap.staleBySitemap(
          docs(s, dir).select(xml.as("xml")),
          fetchedA.unionByName(fetchedB))
        .orderBy("url")
    }),

    "q85_redirects" -> ((s, dir) => {
      // redirect-chain resolution by pointer doubling: 7 chains of
      // 1/2/3/5/8/9/12 hops into distinct terminals, a 3-cycle, and plain
      // urls. maxHops=8 → the 9- and 12-hop chains and the cycle come
      // back unresolved; the exactly-8-hop chain resolves AT the cap.
      // Hop counts are exact (doubling sums them), so the whole output is
      // integer/string arithmetic any engine replays.
      import s.implicits._
      val lens = Seq(1, 2, 3, 5, 8, 9, 12)
      val edges = lens.zipWithIndex.flatMap { case (l, i) =>
        (0 until l).map { j =>
          (s"http://r.test/c$i/n$j",
            if (j == l - 1) s"http://t.test/f$i"
            else s"http://r.test/c$i/n${j + 1}")
        }
      } ++ (0 until 3).map(j =>
        (s"http://r.test/loop/n$j", s"http://r.test/loop/n${(j + 1) % 3}"))
      val edgeDf = edges.toDF("src", "dst")
      val urls = edgeDf.select(col("src").as("url"))
        .union(edgeDf.select(col("dst").as("url")))
        .union((0 until 5).map(k => s"http://plain.test/p$k").toDF("url"))
        .distinct()
      graft.frontier.Redirects.resolve(urls, edgeDf, maxHops = 8)
        .orderBy("url")
    }),

    "q86_containment" -> ((s, dir) => {
      // asymmetric containment dedup (the excerpt channel Jaccard misses):
      // every 7th doc also appears as a 25-token prefix excerpt (id +
      // 300000) — its 18 distinct 8-grams all hit the parent, so the
      // excerpt side scores 1000000 ppm while the parent side stays low;
      // exact-duplicate texts in the raw table score 1000000 both ways.
      // Counts + integer ppm only: exact in any engine.
      val corpus = docsWide(s, dir).select(col("doc_id").as("id"), col("text"))
        .unionByName(docsWide(s, dir).where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 300000L).as("id"),
            concat_ws(" ", slice(
              filter(split(col("text"), "\\s+"), t => t =!= ""), 1, 25)).as("text")))
      graft.dedup.Dedup.containmentPairs(corpus, "id", "text",
          n = 8, minPpm = 900000L)
        .orderBy("contained_id", "container_id")
    }),

    "q87_image_dhash" -> ((s, dir) => {
      // image near-dup via REAL-decode dHash: assets 2b/2b+1 share the
      // quadratic pixel field (b·37 + 11x² + 7y² + 5xy + 3xb) mod 256 (a
      // pseudo-random field, so the 64 hash bits carry real entropy); the
      // odd twin brightens the FIRST GRID COLUMN by +60 mod 256, flipping
      // at most the gx=0 bit per grid row → planted pair hamming ≤ 8.
      // maxDist=8 catches all 100 planted pairs plus a handful of
      // arithmetic coincidences; the oracle replays the identical integer
      // cell pooling, so the full pair set is value-exact. A wrong
      // unfilter, stride, or pooling boundary cannot fake this.
      import s.implicits._
      val ids = docs(s, dir).select(col("doc_id"))
        .where(col("doc_id") < 200).as[Long]
      val assets = ids.map { i =>
        val b = (i / 2).toInt
        val odd = (i % 2).toInt
        val w = 18 + (b % 3) * 9
        val cw = w / 9
        val px = Array.tabulate(w * 8) { j =>
          val x = j % w
          val y = j / w
          ((b * 37 + 11 * x * x + 7 * y * y + 5 * x * y + 3 * x * b
            + (if (odd == 1 && x < cw) 60 else 0)) % 256).toByte
        }
        graft.multimodal.Multimodal.Asset(i, "image",
          graft.multimodal.Png.encode(w, 8, 1, px), s"http://img.test/$i")
      }
      val sigs = graft.multimodal.Multimodal.dhash64(assets)
        .where(col("status") === 200)
        .select(col("asset_id").as("id"), col("dhash").as("sig"))
      graft.dedup.Dedup.simHashNearDupsFromSigs(sigs, maxDist = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    "q88_hits" -> ((s, dir) => {
      // HITS hubs & authorities over an arithmetic link graph: quadratic
      // dst map (non-uniform in-degree), a planted authority magnet (every
      // 5th doc links to node 7) and extra hub edges for every 7th doc.
      // Fixed-point L1 normalization → every iteration is exact integer
      // arithmetic both engines replay bit-for-bit (2 iterations).
      val d = docs(s, dir).select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          ((col("doc_id") * col("doc_id") + col("doc_id") * 3 + 11) % 500).as("dst"))
        .unionByName(d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("src"), lit(7L).as("dst")))
        .unionByName(d.where(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("src"), ((col("doc_id") * 2 + 1) % 500).as("dst")))
        .distinct()
      graft.frontier.Rank.hits(edges, iters = 2)
        .orderBy("node")
    }),

    "q89_trustrank" -> ((s, dir) => {
      // TrustRank over the q54 graph: teleport restricted to the vetted
      // seeds {0,10,…,210} — nodes reachable only from unvetted regions
      // score ~0 (the spam-demotion contract). Same 3 unrolled iterations
      // + round(…,6) ulp fence as q54.
      val d = docs(s, dir)
      val edges = d
        .select(col("doc_id").as("src"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(col("src"), ((col("src") * 7 + col("j") * 13) % 211).as("dst"))
      val seeds = d.where(col("doc_id") < 211 && col("doc_id") % 10 === 0)
        .select(col("doc_id").as("node"))
      graft.frontier.Rank.trustRank(edges, seeds, iters = 3)
        .select(col("node"), round(col("score"), 6).as("score"))
        .orderBy("node")
    }),

    "q90_revisit_rates" -> ((s, dir) => {
      // revisit classification between two snapshots (Cho & Garcia-Molina
      // change-rate estimation): prev = every doc; cur drops %11 (gone),
      // mutates %3 (modified), adds /n/ urls for %13 (new). Digest compare
      // (md5) ⟺ string equality, so the oracle replays the statuses
      // directly; per-host rollup with integer-ppm change rate.
      val host = concat(lit("h"), (col("doc_id") % 20).cast("string"), lit(".test"))
      val url = concat(lit("http://"), host, lit("/p/"), col("doc_id").cast("string"))
      val body = concat(lit("<html><body>v"), col("doc_id").cast("string"),
        lit("</body></html>"))
      val prev = docs(s, dir).select(url.as("url"), body.as("html"))
      val cur = docs(s, dir).where(col("doc_id") % 11 =!= 0)
        .select(url.as("url"),
          when(col("doc_id") % 3 === 0, concat(body, lit("!")))
            .otherwise(body).as("html"))
        .unionByName(docs(s, dir).where(col("doc_id") % 13 === 0)
          .select(concat(lit("http://"), host, lit("/n/"),
            col("doc_id").cast("string")).as("url"), body.as("html")))
      graft.frontier.Revisit.changeRates(prev, cur)
        .orderBy("host")
    }),

    "q91_reciprocity" -> ((s, dir) => {
      // reciprocal-link nepotism (Davison '00): host graph from two
      // arithmetic url-edge maps (7a+3 and 11a+5 mod 20) — the 7a+3 map's
      // fixed points of a = 7(7a+3)+3 give natural webring pairs
      // (h2↔h17, h7↔h12); counts + integer ppm replay anywhere.
      val srcUrl = concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
        lit(".test/p/"), col("doc_id").cast("string"))
      val dst1 = concat(lit("http://h"), ((col("doc_id") * 7 + 3) % 20).cast("string"),
        lit(".test/x"))
      val dst2 = concat(lit("http://h"), ((col("doc_id") * 11 + 5) % 20).cast("string"),
        lit(".test/x"))
      val edges = docs(s, dir).select(srcUrl.as("src"), dst1.as("dst"))
        .unionByName(docs(s, dir).where(col("doc_id") % 2 === 0)
          .select(srcUrl.as("src"), dst2.as("dst")))
      graft.frontier.Rank.reciprocity(graft.frontier.Rank.hostGraph(edges))
        .orderBy("host")
    }),

    "q92_bpe_token_counts" -> ((s, dir) => {
      // doc-level BPE token counts under a 4-merge list whose needles
      // cannot false-match across symbol boundaries (no symbol in play
      // ends with the left or starts with the right of a later needle),
      // so DuckDB replays the left-to-right non-overlap kernel as 4
      // chained string replaces on the space-joined symbols. n_tokens =
      // chars + words − merge applications; pure integers.
      graft.text.Bpe.encodeCounts(docs(s, dir), "doc_id", "text",
          Seq(("e", "s"), ("t", "h"), ("es", "</w>"), ("a", "n")))
        .orderBy("doc_id")
    }),

    "q93_mirror_hosts" -> ((s, dir) => {
      // mirror-host detection (Bharat & Broder '99): 20 hosts where
      // h{k} and h{k+10} serve identical bodies v{k%10}_{j} (j = doc
      // family) — 10 planted mirror pairs — EXCEPT rows with
      // doc_id % 7 == 0, which all serve one universal "parked"
      // boilerplate body shared by every host; the maxHostsPerDigest cap
      // must kill that digest or the result is all-pairs. md5 partitions
      // rows exactly like raw-body equality, so the oracle replays on the
      // body strings; counts and ppm are pure integers.
      val url = concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
        lit(".test/p/"), col("doc_id").cast("string"))
      val body = when(col("doc_id") % 7 === 0, lit("<html>parked</html>"))
        .otherwise(concat(lit("<html>v"), (col("doc_id") % 10).cast("string"),
          lit("_"), expr("doc_id DIV 20").cast("string"),
          lit("</html>")))
      graft.frontier.Mirrors.mirrorPairs(
          docs(s, dir).select(url.as("url"), body.as("html")),
          maxHostsPerDigest = 5)
        .orderBy("host_a", "host_b")
    }),

    "q94_sniff_mime" -> ((s, dir) => {
      // content-type sniffing over REAL magic bytes: 12 payload classes
      // built from genuine format prefixes (PNG/JPEG/GIF/RIFF-WAVE/PDF/
      // gzip/markup/WARC/UTF-8/invalid-UTF-8/truncated-PNG+NUL) — the
      // engine walks the bytes, the oracle knows only the plant (q36/q37
      // discipline). Mixed-case DocType and leading whitespace exercise
      // the WHATWG tag sniff; class 10 is binary-byte-free but
      // UTF-8-invalid; class 11 has 4 of PNG's 8 magic bytes plus a NUL.
      val cls = col("doc_id") % 12
      val payload = col("doc_id").cast("string").cast("binary")
      val bin = when(cls === 0, concat(unhex(lit("89504E470D0A1A0A")), payload))
        .when(cls === 1, concat(unhex(lit("FFD8FFE000104A464946")), payload))
        .when(cls === 2, concat(lit("GIF89a").cast("binary"), payload))
        .when(cls === 3, concat(lit("RIFF").cast("binary"),
          unhex(lit("24000000")), lit("WAVEfmt ").cast("binary"), payload))
        .when(cls === 4, concat(lit("%PDF-1.4 ").cast("binary"), payload))
        .when(cls === 5, concat(unhex(lit("1F8B08")), payload))
        .when(cls === 6, concat(lit("\n\t  <!DocType HTML><html>").cast("binary"),
          payload))
        .when(cls === 7, concat(lit("<?xml version=\"1.0\"?><root>").cast("binary"),
          payload))
        .when(cls === 8, concat(lit("WARC/1.0\r\nWARC-Type: response\r\n")
          .cast("binary"), payload))
        .when(cls === 9, concat(lit("plain café text ").cast("binary"), payload))
        .when(cls === 10, concat(unhex(lit("C328")), lit("tail").cast("binary")))
        .otherwise(concat(unhex(lit("89504E4700")), payload))
      docs(s, dir)
        .select(col("doc_id"), graft.functions.sniff_mime(bin).as("mime"))
        .orderBy("doc_id")
    }),

    "q95_page_outline" -> ((s, dir) => {
      // title + heading outline over a REAL parse: six title classes
      // (error title / entity + whitespace collapse / absent /
      // self-closing / escaped angle brackets / error phrase), h2 count
      // from repeat(doc_id % 4), one h3 guarded by a comment decoy, and
      // an <h2> planted inside a script string that must NOT count
      // (raw-text blindness). The oracle knows only the plants.
      val m6 = col("doc_id") % 6
      val id = col("doc_id").cast("string")
      val titlePart = when(m6 === 0, lit("<title>404   Not\n Found</title>"))
        .when(m6 === 1, concat(lit("<title> Doc &amp; "), id, lit(" </title>")))
        .when(m6 === 2, lit(""))
        .when(m6 === 3, lit("<title/>"))
        .when(m6 === 4, concat(lit("<title>Fine &lt;page&gt; "), id, lit("</title>")))
        .otherwise(concat(lit("<title>Error: page "), id, lit(" not found</title>")))
      val html = concat(lit("<html><head>"), titlePart,
        lit("</head><body><h1>Top</h1>"),
        expr("repeat('<h2>s</h2>', CAST(doc_id % 4 AS INT))"),
        when(col("doc_id") % 5 === 0,
          lit("<!-- <h3>decoy</h3> --><h3>real</h3>")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("<script>var a=\"<h2>fake</h2>\";</script>")).otherwise(lit("")),
        lit("<p>b</p></body></html>"))
      docs(s, dir)
        .select(col("doc_id"), graft.functions.page_outline(html).as("o"))
        .select(col("doc_id"), col("o.title").as("title"),
          col("o.h1").as("h1"), col("o.h2").as("h2"), col("o.h3").as("h3"),
          col("o.h4").as("h4"), col("o.h5").as("h5"), col("o.h6").as("h6"))
        .orderBy("doc_id")
    }),

    "q96_soft404" -> ((s, dir) => {
      // soft-404 gate over real parses: error classes (%6 ∈ {0,5}) serve
      // an error title + 3-token error body; real pages a 17-token body —
      // but the heuristic is replayed VERBATIM in the oracle, so even its
      // deliberate false positives (a real page titled "Doc 404") must
      // match engine-for-engine.
      val m6 = col("doc_id") % 6
      val id = col("doc_id").cast("string")
      val title = when(m6 === 0, lit("404 Not Found"))
        .when(m6 === 5, concat(lit("Error: page "), id, lit(" not found")))
        .otherwise(concat(lit("Doc "), id))
      val body = when(m6 === 0 || m6 === 5, lit("Page not found."))
        .otherwise(concat(lit("alpha beta gamma delta epsilon zeta eta theta " +
          "iota kappa lambda mu nu xi omicron pi "), id))
      val html = concat(lit("<html><head><title>"), title,
        lit("</title></head><body><p>"), body, lit("</p></body></html>"))
      graft.text.CorpusFilter.withSoft404(
          docs(s, dir).select(col("doc_id"), html.as("html")))
        .select(col("doc_id"), col("title"), col("n_body_tokens"), col("soft404"))
        .orderBy("doc_id")
    }),

    "q97_hll_host_cardinality" -> ((s, dir) => {
      // HLL distinct-url estimation per host, registers replayed in SQL:
      // keys collapse to doc_id % 320 (each of 20 hosts sees exactly 16
      // distinct keys through ~25 duplicate rows — the sketch must be
      // duplicate-insensitive), planted 53-bit arithmetic hashes give
      // register spread while replaying exactly (trailing-zero rho =
      // bit_count(w XOR (w−1))). est_distinct is the fixed-point
      // estimate — deliberately LC-free, so biased at n ≪ m, but a pure
      // integer function of the registers that both engines compute
      // identically. n_exact rides along as the honesty column.
      val key = col("doc_id") % 320
      val h = (key * 2654435761L + 101L) % 2147483648L * 4194304L +
        (key * 69069L + 7L) % 4194304L
      docs(s, dir)
        .select((col("doc_id") % 20).as("host"), key.as("key"), h.as("h"))
        .groupBy("host")
        .agg(
          countDistinct(col("key")).as("n_exact"),
          graft.functions.hll_card(graft.functions.hll_agg(col("h"), p = 6))
            .as("est_distinct"))
        .orderBy("host")
    }),

    "q98_dust_rules" -> ((s, dir) => {
      // DUST rule mining: 10 hosts, three url families —
      //   A "/a/{g}?page={p}&sid={id}"  body f(k,g,p)   (sid irrelevant)
      //   B "/a/{g}?page={p}"           body f(k,g,p)   (A's sid-less twin)
      //   C "/b/{j}?v={j%2}"            body g(k,j%2)   (v AFFECTS content)
      //   D "/b/{j}"                    body g(k,0)     (v=0's bare twin)
      // Evidence: stripping sid from A hits B with equal digest (support
      // 50/host); stripping v from C hits D but digests agree only on
      // even j (support 25/host); stripping page never finds a twin —
      // "page" must NOT appear in the rules.
      val id = col("doc_id")
      val k = (id % 10).cast("string"); val g = expr("doc_id DIV 4").cast("string")
      val p = (id % 4).cast("string"); val j = expr("doc_id DIV 10").cast("string")
      val v = expr("(doc_id DIV 10) % 2").cast("string")
      val stemA = concat(lit("http://h"), k, lit(".test/a/"), g)
      val bodyAB = concat(lit("<html>f-"), k, lit("-"), g, lit("-"), p, lit("</html>"))
      val stemC = concat(lit("http://h"), k, lit(".test/b/"), j)
      val d = docs(s, dir)
      val rows =
        d.select(concat(stemA, lit("?page="), p, lit("&sid="), id.cast("string"))
            .as("url"), bodyAB.as("html"))
          .unionByName(d.select(concat(stemA, lit("?page="), p).as("url"),
            bodyAB.as("html")))
          .unionByName(d.select(concat(stemC, lit("?v="), v).as("url"),
            concat(lit("<html>g-"), k, lit("-"), v, lit("</html>")).as("html")))
          .unionByName(d.select(stemC.as("url"),
            concat(lit("<html>g-"), k, lit("-0</html>")).as("html")))
      graft.frontier.Dust.paramStripRules(rows)
        .orderBy("host", "param")
    }),

    "q99_seed_distance" -> ((s, dir) => {
      // BFS crawl depth over a deterministic doubling graph: every doc
      // links to (2i+1)%N and (3i+7)%N, seeds are doc_id%101==0. The
      // oracle replays the BFS as a bounded recursive CTE + min(depth)
      // group-by — path count per seed is ≤ 2^maxDepth = 16, so the
      // recursion stays tiny while the engine side runs the real
      // frontier-expansion loop (early exit, anti-join seen filter).
      val d = docs(s, dir)
      val n = d.count()
      val edges = d.select(col("doc_id").as("src"),
          ((col("doc_id") * 2 + 1) % n).as("dst"))
        .unionByName(d.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % n).as("dst")))
      val seeds = d.where(col("doc_id") % 101 === 0)
        .select(col("doc_id").as("node"))
      graft.frontier.Rank.seedDistance(edges, seeds, maxDepth = 4)
        .orderBy("node")
    }),

    "q100_c4_clean" -> ((s, dir) => {
      // C4 line/doc cleaning: every doc carries one good sentence (its
      // text + terminal '.'), a 2-word line (dropped: < 5 words), an
      // unterminated line (dropped: no terminal punct), a JavaScript
      // boilerplate line (dropped: case-insensitive mention), a second
      // good sentence, and conditionally a third good sentence (%3),
      // a lorem-ipsum line (%7 — the LINE passes the line rules; the DOC
      // dies on the original-text scan), and a code line with braces
      // (%11 — same: line kept, doc dropped), so the doc gate provably
      // reads the raw text, not the cleaned one.
      val t = concat(
        col("text"), lit(" end of intro.\n"),
        lit("short line.\n"),
        lit("this line has no terminal punctuation at all\n"),
        lit("please enable JavaScript to view the comments powered here.\n"),
        lit("another good sentence with plenty of words here!"),
        when(col("doc_id") % 3 === 0,
          lit("\na third full sentence rounds out the document nicely?"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit."))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nfunction f() { return 0; } and more words to pass rules."))
          .otherwise(lit("")))
      graft.text.CorpusFilter
        .c4Clean(docs(s, dir).select(col("doc_id"), t.as("t")), "t")
        .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
          col("kept_text"), col("c4_keep"))
        .orderBy("doc_id")
    }),

    "q101_triangles" -> ((s, dir) => {
      // host-graph triangle census: 50 hosts wired by three deterministic
      // maps (3k+1, 7k+2, k²+3 mod 50) — sparse enough that clustering
      // varies by host; the oracle recounts triangles by a string-ordered
      // triple join (canonicalization-independent: the triangle SET is
      // the same whichever total order generates it).
      val d = docs(s, dir)
      def h(e: Column) = concat(lit("h"), e.cast("string"))
      val id = col("doc_id")
      val edges = d.select(h(id % 50).as("src_host"),
          h((id * 3 + 1) % 50).as("dst_host"))
        .unionByName(d.select(h(id % 50).as("src_host"),
          h((id * 7 + 2) % 50).as("dst_host")))
        .unionByName(d.select(h(id % 50).as("src_host"),
          h((id * id + 3) % 50).as("dst_host")))
      graft.frontier.Rank.triangles(edges).orderBy("host")
    }),

    "q102_focus_priorities" -> ((s, dir) => {
      // focused-crawl priorities end to end: every page carries ONE
      // absolute-href anchor to target doc_id%40 whose 3-token text mixes
      // topic terms (spark/shuffle/tuning on the %5/%3/%2 grids) with
      // filler vocabulary — targets accumulate different topic-term
      // frequencies, the BM25 surrogate-document scores rank them, and
      // the oracle rebuilds the pooled token multiset arithmetically
      // (pool order is irrelevant: BM25 reads tf counts, not strings)
      // then replays the q68 fixed-point scoring chain.
      import s.implicits._
      val id = col("doc_id")
      val anchor = concat(
        when(id % 5 === 0, lit("spark"))
          .otherwise(concat(lit("misc"), (id % 4).cast("string"))),
        lit(" "),
        when(id % 3 === 0, lit("shuffle"))
          .otherwise(concat(lit("word"), (id % 6).cast("string"))),
        lit(" "),
        when(id % 2 === 0, lit("tuning"))
          .otherwise(concat(lit("tail"), (id % 5).cast("string"))))
      val html = concat(
        lit("<html><body><a href=\"http://tgt.test/t/"),
        (id % 40).cast("string"), lit("\">"), anchor,
        lit("</a></body></html>"))
      val pages = docsWide(s, dir).select(
        concat(lit("http://h"), (id % 9).cast("string"), lit(".test/p/"),
          id.cast("string")).as("url"),
        html.as("html"))
      val topic = Seq((0L, "spark shuffle tuning")).toDF("qid", "qtext")
      graft.frontier.Anchors.focusPriorities(pages, topic, k = 15)
        .orderBy("rank")
    }),

    "q103_refresh_due" -> ((s, dir) => {
      // changefreq/priority refresh verdicts: every doc is one <url> block
      // whose lastmod (%3, epoch arithmetic round-tripped through the W3C
      // format + parser), changefreq (%8 cycles the full vocabulary incl.
      // never/absent), and priority (%4 gates presence) are all doc_id
      // functions the oracle regenerates without parsing. Fetch log covers
      // even ids at epoch+id·1800; now is fixed — so every reason branch
      // (never_fetched / modified / ttl_expired / suppressed-by-lastmod)
      // has planted members.
      val id = col("doc_id")
      val epoch = lit(1704067200L) // 2024-01-01T00:00:00Z
      val lmE = epoch + (id % 100) * 3600L
      val lm = when(id % 3 === 0, concat(lit("<lastmod>"),
          date_format(to_timestamp(lmE), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
          lit("</lastmod>"))).otherwise(lit(""))
      val cfName = element_at(
        array(lit("always"), lit("hourly"), lit("daily"), lit("weekly"),
          lit("monthly"), lit("yearly"), lit("never")),
        (id % 8 + 1).cast("int"))
      val cf = when(id % 8 < 7,
        concat(lit("<changefreq>"), cfName, lit("</changefreq>")))
        .otherwise(lit(""))
      val pr = when(id % 4 =!= 0,
        concat(lit("<priority>0."), (id % 10).cast("string"),
          lit("</priority>"))).otherwise(lit(""))
      val xml = concat(lit("<urlset><url><loc>http://st.test/u"),
        id.cast("string"), lit("</loc>"), lm, cf, pr,
        lit("</url></urlset>"))
      val d = docs(s, dir)
      val sitemaps = d.select(xml.as("xml"))
      val fetched = d.where(id % 2 === 0).select(
        concat(lit("http://st.test/u"), id.cast("string")).as("url"),
        to_timestamp(epoch + id * 1800L).as("fetched_at"))
      graft.frontier.Sitemap.refreshDue(sitemaps, fetched,
          to_timestamp(lit(1709251200L))) // 2024-03-01T00:00:00Z
        .orderBy("url")
    }),

    "q104_pq_adc" -> ((s, dir) => {
      // PQ asymmetric-distance search through the PRODUCTION kernel
      // (PqAdcLookup expression, broadcast tables, narrow rank) with
      // planted integer codes and tables, so DuckDB recomputes every
      // lookup arithmetically: code(i,j) = (i DIV (j+1) + j) % 4 (period
      // 12 — varied rank orders), table(q,j,c) integer-valued — double
      // sums of integers < 2^53 are order-exact, cast to BIGINT for the
      // hash compare. The trained path (kmeans codebooks, encode,
      // table build) is spec-pinned in PqSpec against brute force.
      import s.implicits._
      val id = col("doc_id")
      val codes = docs(s, dir).select(id.as("id"),
        array((0 to 3).map(j =>
          ((expr(s"doc_id DIV ${j + 1}") + j) % 4).cast("int")): _*).as("codes"))
      val qs = (0L to 4L).map { q =>
        (q, (0 until 16).map { i =>
          val j = i / 4; val c = i % 4
          ((q + 1) * (j * 4 + c + 1) + c * c * (j + 1)).toDouble
        })
      }.toDF("qid", "tab")
      graft.ann.Pq.topKFromCodes(codes, qs, "id", "codes", "qid", "tab",
          k = 7, ksub = 4)
        .select(col("q_id").as("qid"), col("rank").cast("long").as("rank"),
          col("nn_id").as("id"), col("score").cast("long").as("score"))
        .orderBy("qid", "rank")
    }),

    "q105_semdedup" -> ((s, dir) => {
      // embedding-space SemDeDup (Abbas '23) — the EMBEDDING twin of
      // q71's text path: q17's axis-sign bucketed cosine pairs (the
      // oracle computes the identical candidate set), alternating-star
      // clustering, then keep the best-quality member per semantic
      // cluster (planted score (id·53)%1000 so argmax ≠ min-id); every
      // vector comes back with its cluster and keep verdict — the
      // row-level semantic delete set.
      // single-row-group embeddings file: the SRP bucket + norm kernels
      // would serialize on one scan task (measured 1.17 s of the trace) —
      // same repartition rationale as docsWide / the bench's annTopk
      val emb = embeddings(s, dir).repartition(s.sparkContext.defaultParallelism)
      val pairs = graft.dedup.Dedup.cosineNearDupsBucketed(
          emb, "vec_id", "embedding", 0.4, q17Buckets)
        .select("id_a", "id_b")
      val labels = graft.dedup.Components.connectedComponents(pairs)
      val quality = emb.select(col("vec_id").as("id"),
        pmod(col("vec_id") * 53L, lit(1000L)).as("score"))
      val keep = graft.dedup.Dedup.keepBestInClusters(labels, quality)
      quality.select(col("id"))
        .join(keep.select("id", "cluster_id", "keep_id"), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("id")).as("cluster_id"),
          (col("keep_id").isNull || col("keep_id") === col("id")).as("kept"))
        .orderBy("id")
    }),

    "q106_ivfpq" -> ((s, dir) => {
      // IVF+PQ (FAISS IVFADC) through the production kernel with planted
      // assignments: coarse cell = doc_id % 10, query q probes cells
      // {q%10, (q+3)%10}, codes/tables are q104's arithmetic — so the
      // oracle replays cell pruning AND the ADC lookups exactly. The
      // trained path (kmeans cells + trained codebooks) is spec-pinned.
      import s.implicits._
      val id = col("doc_id")
      val codes = docs(s, dir).select(id.as("id"),
        array((0 to 3).map(j =>
          ((expr(s"doc_id DIV ${j + 1}") + j) % 4).cast("int")): _*).as("codes"),
        (id % 10).cast("int").as("cell"))
      val qs = (0L to 4L).map { q =>
        (q,
          (0 until 16).map { i =>
            val j = i / 4; val c = i % 4
            ((q + 1) * (j * 4 + c + 1) + c * c * (j + 1)).toDouble
          },
          Seq((q % 10).toInt, ((q + 3) % 10).toInt))
      }.toDF("qid", "tab", "probe")
      graft.ann.Pq.ivfAdcTopKAssigned(codes, qs, "id", "codes", "cell",
          "qid", "tab", "probe", k = 7, ksub = 4)
        .select(col("q_id").as("qid"), col("rank").cast("long").as("rank"),
          col("nn_id").as("id"), col("score").cast("long").as("score"))
        .orderBy("qid", "rank")
    }),

    "q107_wet_texts" -> ((s, dir) => {
      // WET (conversion-record) round trip — q51's sidecar twin: docs →
      // conformant conversion records (~10 per .gz-layout file image, plus
      // a warcinfo the texts view must skip), parsed back by the real
      // walker incl. the WARC-Refers-To provenance edge, whose name-UUID
      // determinism both engines can verify by presence (the id itself is
      // engine-internal; its INVARIANT — nonempty exactly for conversion
      // rows — is the checkable fact).
      import s.implicits._
      val rows = docs(s, dir).select(
        col("doc_id"),
        concat(lit("http://"), col("source"), lit(".test/docs/"),
          col("doc_id").cast("string")).as("url"),
        col("text")).as[(Long, String, String)]
      val blobs = rows.groupByKey(_._1 / 10).mapGroups { (_, it) =>
        val recs = it.toSeq.sortBy(_._1).map { case (_, url, text) =>
          graft.sources.Warc.writeConversion(url,
            "2024-01-01T00:00:00Z", text.getBytes("UTF-8"))
        }
        graft.sources.Warc.writeFile(
          graft.sources.Warc.writeRecord("warcinfo", "",
            "2024-01-01T00:00:00Z", "software: graft\r\n".getBytes("UTF-8")) +: recs)
      }.toDF("warc")
      graft.sources.Warc.texts(blobs)
        .select(col("url"),
          length(col("text")).cast("long").as("n_chars"),
          date_format(col("warc_ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          (length(col("refers_to")) > 0).as("has_provenance"))
        .orderBy("url")
    }),

    "q108_registrable_domains" -> ((s, dir) => {
      // eTLD+1 site rollup: five host families (ccTLD second-levels,
      // shared hosting, plain TLDs, a bare single label) fold to their
      // registrable domains — the politeness-budget grain; counts per
      // site are the value-exact check, the fold itself is pure string
      // arithmetic both engines run verbatim.
      val id = col("doc_id")
      val k = (id % 7).cast("string")
      val host = when(id % 5 === 0, concat(lit("www.site"), k, lit(".co.uk")))
        .when(id % 5 === 1, concat(lit("app"), k, lit(".example.com")))
        .when(id % 5 === 2, concat(lit("user"), k, lit(".github.io")))
        .when(id % 5 === 3, concat(lit("shop"), k, lit(".com.au")))
        .otherwise(lit("localhost"))
      val urls = docs(s, dir).select(
        concat(lit("http://"), host, lit("/p/"), id.cast("string")).as("url"))
      urls
        .select(graft.functions.registrable_domain(
          graft.functions.host_of(col("url"))).as("domain"),
          graft.functions.host_of(col("url")).as("host"))
        .groupBy("domain")
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_urls"))
        .orderBy("domain")
    }),

    "q109_hygiene_capstone" -> ((s, dir) => {
      // frontier HYGIENE composed end to end: mine DUST rules from planted
      // digest evidence (each farm subdomain serves x?page=1 with and
      // without sid, same body) → strip learned params from the candidate
      // frontier (every even doc carries a unique sid alias; stripping
      // collapses them to one url per path — 20 survivors/domain) →
      // fold to registrable domains → per-SITE budget of 12 via the
      // salted rank. Everything integer/string arithmetic, so the chain
      // replays in SQL: survivors are determined by doc_id % 40 alone
      // (5 | 40 pins the subdomain), seed order = min(doc_id) = the
      // residue itself.
      val id = col("doc_id")
      val d = docs(s, dir)
      val cand = d.select(
        when(id % 2 === 0,
          concat(lit("http://sub"), (id % 5).cast("string"),
            lit(".farm.co.uk/p/"), (id % 40).cast("string"),
            lit("?sid="), id.cast("string")))
          .otherwise(concat(lit("http://ok"), (id % 5).cast("string"),
            lit(".example.com/p/"), (id % 40).cast("string"))).as("url"),
        id.as("doc_id"))
      val ev0 = d.where(id % 100 < 5)
      val evidence = ev0.select(
          concat(lit("http://sub"), (id % 5).cast("string"),
            lit(".farm.co.uk/x?page=1&sid="), id.cast("string")).as("url"),
          lit("<html>same-body</html>").as("html"))
        .unionByName(ev0.select(
          concat(lit("http://sub"), (id % 5).cast("string"),
            lit(".farm.co.uk/x?page=1")).as("url"),
          lit("<html>same-body</html>").as("html")))
      val rules = graft.frontier.Dust.paramStripRules(evidence, minSupport = 1L)
      val stripped = graft.frontier.Dust.applyRules(cand, rules)
      val uniq = stripped.groupBy("url").agg(min(col("doc_id")).as("seed_idx"))
      val (kept, deferred) = graft.frontier.Scheduler.capPerDomain(
        uniq, 12L, urlCol = "url")
      kept.unionByName(deferred)
        .select(col("url"), col("domain"),
          col("domain_pos").cast("long").as("domain_pos"),
          (col("domain_pos") <= 12).as("kept"))
        .orderBy("url")
    }),

    "q110_hreflang_clusters" -> ((s, dir) => {
      // hreflang translation clusters: 40 groups × 3 languages, every
      // page declaring all three alternates (incl. itself — the self
      // edge must drop), plus three traps: a commented-out hreflang link
      // (would cross-wire every group to group 9 if the scanner read
      // comments), a stylesheet link without hreflang, and an x-default
      // pointing at a mailto (resolve-null drop). Clusters are exact:
      // 3 members per group, rep = lexicographic min (the de. url).
      val id = col("doc_id")
      val g = (id % 40).cast("string")
      val lang = element_at(array(lit("en"), lit("fr"), lit("de")),
        (expr("(doc_id DIV 40) % 3") + 1).cast("int"))
      def alt(l: String) = concat(
        lit(s"""<link rel="alternate" hreflang="$l" href="http://$l.t.test/p/"""),
        g, lit("\">"))
      val html = concat(
        lit("<html><head><!-- <link rel=\"alternate\" hreflang=\"xx\" " +
          "href=\"http://xx.t.test/p/9\"> -->"),
        lit("<link rel=\"stylesheet\" href=\"/s.css\">"),
        alt("en"), alt("fr"), alt("de"),
        lit("<link rel=\"alternate\" hreflang=\"x-default\" " +
          "href=\"mailto:no@no\">"),
        lit("</head><body>x</body></html>"))
      val pages = docsWide(s, dir).select(
        concat(lit("http://"), lang, lit(".t.test/p/"), g).as("url"),
        html.as("html"))
      graft.frontier.Alternates.clusters(pages).orderBy("url")
    }),

    "q111_language_mix" -> ((s, dir) => {
      // language-BALANCED mixture — the multilingual recipe (XLM-R/mT5
      // n^alpha sampling) keyed by the engine's own DETECTED language
      // instead of trusted metadata: planted marker texts give a 60% en /
      // 30% de / 10% es split through the q08 langid kernel, then the
      // q77 temperature machinery down-samples the English head and
      // up-samples the Spanish tail. Weights/copies replay exactly
      // (IEEE sqrt + fixed-point + LCG u); langid replays per q08.
      val id = col("doc_id")
      val t = when(id % 10 <= 5, lit("the and of to in"))
        .when(id % 10 <= 8, lit("der die und das nicht"))
        .otherwise(lit("el la que los una"))
      val d = docs(s, dir).select(id, graft.functions.lang_id(t).as("lang"))
      val u = pmod(id * 1103515245L + 12345L, lit(1000000L))
        .cast("double") / 1000000.0d
      graft.text.CorpusFilter.sampleByTemperature(d, "lang",
          targetDocs = 500L, u = u)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    }),

    "q112_shuffle_shards" -> ((s, dir) => {
      // deterministic global shuffle + even sharding: the order key is a
      // planted modular permutation (48271·id mod 65537 — bijective below
      // the prime, so ranks are collision-free and DuckDB's row_number
      // replays the engine's segment-partials rank exactly); shard =
      // rank mod 8, so shard sizes differ by at most one row.
      // FIXTURE BOUND: collision-freedom (and hence cross-engine rank
      // determinism) holds only while the docs table has < 65537 rows —
      // true at every shipped SF (5000 rows at sf0.1). A larger fixture
      // must extend the modulus or add a doc_id tiebreak to the key.
      val perm = (col("doc_id") * 48271L) % 65537L
      graft.pipeline.Pack.shuffleShards(
          docs(s, dir).select(col("doc_id"), perm.as("h")), "h", nShards = 8)
        .select(col("doc_id"), col("global_rank"),
          col("shard").cast("long").as("shard"))
        .orderBy("doc_id")
    }),

    "q113_line_diff" -> ((s, dir) => {
      // line-level change magnitude between snapshots: every revisited
      // page rotates its timestamp line (1 removed + 1 added), %3 pages
      // gain an extra line, %5 pages lose their footer; %17/%19 pages
      // exist in only one snapshot and must be EXCLUDED (classify's
      // new/gone business, not a diff). Counts are exact set arithmetic.
      val id = col("doc_id")
      val url = concat(lit("http://r.test/p/"), id.cast("string"))
      val d = docs(s, dir)
      val prev = d.where(id % 17 =!= 0).select(url.as("url"),
        concat(lit("header\n"), col("text"),
          lit("\nts "), (id % 7).cast("string"),
          lit("\nfooter "), id.cast("string")).as("text"))
      val cur = d.where(id % 19 =!= 0).select(url.as("url"),
        concat(lit("header\n"), col("text"),
          lit("\nts "), (id % 7 + 1).cast("string"),
          when(id % 5 =!= 0, concat(lit("\nfooter "), id.cast("string")))
            .otherwise(lit("")),
          when(id % 3 === 0, concat(lit("\nextra "), id.cast("string")))
            .otherwise(lit(""))).as("text"))
      graft.frontier.Revisit.lineDiff(prev, cur).orderBy("url")
    }),

    "q114_text_urls" -> ((s, dir) => {
      // naked-url discovery from plain text: each doc mentions one
      // sentence-terminated citation (trailing '.' must strip) and one
      // parenthesized reference (')' must end the match), plus two traps
      // — a non-url "httpx://nope" and a bare "https:// " scheme — that
      // must extract nothing. Pure regexp arithmetic both engines run.
      val id = col("doc_id")
      val t = concat(
        lit("read https://cite"), (id % 9).cast("string"),
        lit(".test/a/"), id.cast("string"),
        lit(". also (http://ref"), (id % 4).cast("string"),
        lit(".test/b?x="), id.cast("string"),
        lit("), not a url: httpx://nope, bare https:// end"))
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.text_urls(t)).as(Seq("pos", "url")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("url"))
        .orderBy("doc_id", "pos")
    }),

    "q115_adaptive_refresh" -> ((s, dir) => {
      // the Cho & Garcia-Molina loop CLOSED in one chain: q90's snapshot
      // pair → per-host change rates → linear TTL map (max 10, min 2
      // waves) → a planted committed ledger (one row per url, wave =
      // doc_id % 8, now = 12) → stale verdicts under each url's OWN
      // host TTL. Every stage integer arithmetic; hot %3-heavy hosts
      // refresh sooner than frozen ones, exactly per the measured ppm.
      val host = concat(lit("h"), (col("doc_id") % 20).cast("string"),
        lit(".test"))
      val url = concat(lit("http://"), host, lit("/p/"),
        col("doc_id").cast("string"))
      val body = concat(lit("<html><body>v"), col("doc_id").cast("string"),
        lit("</body></html>"))
      val d = docs(s, dir)
      val prev = d.select(url.as("url"), body.as("html"))
      val cur = d.where(col("doc_id") % 11 =!= 0)
        .select(url.as("url"),
          when(col("doc_id") % 3 === 0, concat(body, lit("!")))
            .otherwise(body).as("html"))
        .unionByName(d.where(col("doc_id") % 13 === 0)
          .select(concat(lit("http://"), host, lit("/n/"),
            col("doc_id").cast("string")).as("url"), body.as("html")))
      val rates = graft.frontier.Revisit.changeRates(prev, cur)
      val ttls = graft.frontier.Revisit.ttlFromChangeRates(rates, 2L, 10L)
      val committed = d.select(col("doc_id").as("url_hash"),
        url.as("canonical_url"), (col("doc_id") % 8).cast("int").as("wave"))
      graft.frontier.Ledger.staleFrontierAdaptiveFrom(committed, 12, ttls, 10L)
        .select(col("url"), col("age").cast("long").as("age"),
          col("ttl_waves"))
        .orderBy("url")
    }),

    "q81_frontier_capstone" -> ((s, dir) => {
      // round-5b capstone — the production frontier configuration composed
      // end to end: trap-capped frontier (q80 shapes) → HOST-level
      // authority priorities (q78 graph over the same 20 hosts; the trap
      // host has no authority and sinks to priority 0) → packed order
      // keys → salted politeness schedule. Everything integer or
      // round(…,6)-fenced, so DuckDB replays the whole chain.
      val normal = docs(s, dir).select(
        concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
          lit(".test/article/"), col("doc_id").cast("string")).as("canonical_url"),
        col("doc_id").as("seed_idx"))
      val trap = docs(s, dir).select(
        concat(lit("http://trap.test/cal/"), col("doc_id").cast("string"), lit("/"),
          ((col("doc_id") * 7) % 97).cast("string"),
          lit("/view?sid=deadbeef"), col("doc_id").cast("string")).as("canonical_url"),
        (col("doc_id") + 10000L).as("seed_idx"))
      val (kept, _) = graft.url.Traps.capPerTemplate(
        normal.unionByName(trap), maxPerTemplate = 30L)
      val edges = docs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(
          concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
            lit(".test/p/"), col("doc_id").cast("string")).as("src"),
          concat(lit("http://h"), ((col("doc_id") * 7 + col("j") * 13) % 20).cast("string"),
            lit(".test/q/"), col("doc_id").cast("string")).as("dst"))
      val pri = graft.frontier.Rank.hostRank(edges, iters = 3)
        .select(col("host"), round(col("score"), 6).as("score"))
        .withColumn("priority",
          // FIXTURE-ONLY total order (≤20 hosts at sf oracle scale): a
          // global unpartitioned window is a single-task sort — never copy
          // into a production path; production packs floor(score × 100)
          // directly (the WaveLoop authority channel).
          (lit(21) - row_number().over(Window.orderBy(col("score").desc, col("host"))))
            .cast("long"))
      val f = kept.select(col("canonical_url"), col("seed_idx"))
        .withColumn("host", graft.functions.host_of(col("canonical_url")))
        .join(pri.select(col("host"), col("priority")), Seq("host"), "left")
        .withColumn("host_rev", graft.functions.host_reverse(col("host")))
        .withColumn("order_key",
          Scheduler.priorityOrderKey(col("priority"), col("seed_idx")))
      Scheduler.schedule(f, gapSeconds = 3L, salted = true, orderCol = "order_key")
        .select(col("host_rev"), col("canonical_url"), col("seed_idx"),
          coalesce(col("priority"), lit(0L)).as("priority"),
          col("host_pos"), col("slot"))
        .orderBy("host_rev", "host_pos")
    }),

    "q80_trap_cap" -> ((s, dir) => {
      // crawl-trap cap: 500 planted calendar/session urls all fold to ONE
      // template (digit runs → N, the hex session id → H) and get capped
      // at 30 by discovery order, while 20 hosts of /article/N templates
      // (25 urls each) pass untouched. The fold is three replayable
      // regexes; the cap is the salted skew-proof rank.
      val normal = docs(s, dir).select(
        concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
          lit(".test/article/"), col("doc_id").cast("string")).as("canonical_url"),
        col("doc_id").as("seed_idx"))
      val trap = docs(s, dir).select(
        concat(lit("http://trap.test/cal/"), col("doc_id").cast("string"), lit("/"),
          ((col("doc_id") * 7) % 97).cast("string"),
          lit("/view?sid=deadbeef"), col("doc_id").cast("string")).as("canonical_url"),
        (col("doc_id") + 10000L).as("seed_idx"))
      val (kept, _) = graft.url.Traps.capPerTemplate(
        normal.unionByName(trap), maxPerTemplate = 30L)
      kept.select(col("canonical_url"), col("seed_idx"), col("template"),
          col("template_pos").cast("long").as("template_pos"))
        .orderBy("template", "template_pos")
    }),

    "q79_anchor_text" -> ((s, dir) => {
      // anchor-text aggregation: every page links its target (doc_id % 50)
      // with a styled anchor whose text varies by doc_id % 3 — plus three
      // traps: a commented-out anchor (not a link), an image-only anchor
      // (extracted, then dropped by topAnchors — no text evidence), and a
      // mailto (nulled by resolve). Top-2 per target by (count desc,
      // anchor); counts and ranks are pure integers.
      val base = concat(lit("http://tgt.test/p/"), col("doc_id").cast("string"))
      val t = (col("doc_id") % 50).cast("string")
      val html = concat(
        lit("<html><body><!-- <a href=\"/t/99\">no</a> -->"),
        lit("<a href=\"/t/"), t,
        lit("\">go&amp;<b>x</b>\n "), (col("doc_id") % 3).cast("string"),
        lit("</a><a href=\"/t/"), t,
        lit("\"><img src=\"i.png\"/></a>"),
        lit("<a href=\"mailto:a@b.c\">mail</a></body></html>"))
      val anchors = graft.frontier.Anchors.fromPages(
        docs(s, dir).select(base.as("url"), html.as("html")))
      graft.frontier.Anchors.topAnchors(anchors, k = 2)
        .select(col("link"), col("anchor"), col("n"),
          col("rank").cast("long").as("rank"))
        .orderBy("link", "rank")
    }),

    "q78_host_rank" -> ((s, dir) => {
      // host-level authority: url edges over 37 planted hosts collapse to
      // the weighted host graph (self-loops dropped, weight = link
      // multiplicity), then 3 weighted PageRank rounds. The engine runs
      // the loop on xxhash64 host ids (never visible in the output); the
      // oracle runs the same arithmetic on the host strings directly —
      // identical scores because the collapse is exact. round(…,6) absorbs
      // ulp-order sum noise (the q54 contract).
      val edges = docs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(
          concat(lit("http://h"), (col("doc_id") % 37).cast("string"),
            lit(".test/p/"), col("doc_id").cast("string")).as("src"),
          concat(lit("http://h"), ((col("doc_id") * 7 + col("j") * 13) % 37).cast("string"),
            lit(".test/q/"), col("doc_id").cast("string")).as("dst"))
      graft.frontier.Rank.hostRank(edges, iters = 3)
        .select(col("host"), round(col("score"), 6).as("score"))
        .orderBy("host")
    }),

    "q77_temperature_mix" -> ((s, dir) => {
      // temperature-based source balancing (n^0.5): a skewed synthetic
      // source split (60/30/10 by doc_id) where flat sampling would keep
      // the 60% head dominant — the temperature weights DOWN-sample the
      // head (w≈0.79) and UP-sample the tail (w≈1.93). sqrt is IEEE
      // correctly-rounded and the rest is once-rounded fixed-point +
      // exact int→double promotions, so DuckDB replays the weights
      // bit-for-bit; u is the replayable LCG (q56 pattern).
      val src = when(col("doc_id") % 10 <= 5, lit("m0"))
        .when(col("doc_id") % 10 <= 8, lit("m1")).otherwise(lit("m2"))
      val u = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000L))
        .cast("double") / 1000000.0d
      graft.text.CorpusFilter.sampleByTemperature(
          docs(s, dir).select(col("doc_id"), src.as("mix_src")),
          "mix_src", targetDocs = 500L, u = u)
        .select(col("doc_id"), col("mix_src"), col("copy"))
        .orderBy("doc_id", "copy")
    }),

    "q76_unsee" -> ((s, dir) => {
      // Ledger.unsee's tombstone-subtraction kernel: ledger rows (with a
      // re-append for every third url at a LATER wave) minus tombstones —
      // a row dies when some tombstone of its url has t_wave >= wave, so
      // re-appends AFTER the unsee survive while the original rows die.
      // Pure integer wave fencing → the oracle replays it exactly.
      def urlOf = concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
        lit(".test/d/"), col("doc_id").cast("string"))
      val first = docs(s, dir).select(col("doc_id").as("url_hash"),
        urlOf.as("canonical_url"), (col("doc_id") % 9).cast("int").as("wave"))
      val reappended = docs(s, dir).where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("url_hash"), urlOf.as("canonical_url"),
          ((col("doc_id") % 5) + 5).cast("int").as("wave"))
      // two tombstone generations; urls divisible by 12 carry both (the
      // max-t_wave fold), and t_wave=7 kills more than t_wave=4
      val tombstones = docs(s, dir).where(col("doc_id") % 4 === 0)
        .select(col("doc_id").as("url_hash"), lit(4).cast("int").as("t_wave"))
        .unionByName(docs(s, dir).where(col("doc_id") % 6 === 0)
          .select(col("doc_id").as("url_hash"), lit(7).cast("int").as("t_wave")))
      graft.frontier.Ledger
        .applyTombstones(first.unionByName(reappended), tombstones)
        .select(col("url_hash"), col("canonical_url"), col("wave").cast("long").as("wave"))
        .orderBy("url_hash", "wave")
    }),

    "q75_lm_buckets" -> ((s, dir) => {
      // the CCNet split closed end to end: LM scores (q70), cutoffs = the
      // EXACT 30th/60th percentiles of nll computed in-engine (histogram
      // + skew-proof prefix sum — percentile_disc semantics), then
      // head/middle/tail bucket stats. ceil(q·n) is one IEEE multiply —
      // identical in any engine — and everything else is integers.
      val ref = docs(s, dir).where(col("doc_id") % 3 === 0)
        .select(col("text"))
      val lm = graft.text.LangModel.train(ref, "text")
      val scored = graft.text.LangModel.scoreDocs(
        docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text", lm)
      val cuts = graft.pipeline.Quantiles.exactQuantiles(
        scored, "nll_tok_fp", Seq(0.3, 0.6))
      graft.text.LangModel.bucketize(scored, cuts(0), cuts(1))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("nll_tok_fp")).as("nll_lo"),
          max(col("nll_tok_fp")).as("nll_hi"))
        .orderBy("bucket")
    }),

    "q74_bpe_pairs" -> ((s, dir) => {
      // BPE training round: symbolize the distinct-word table, apply the
      // merge (e,s), recount adjacent pairs — wordFreqs + init + the
      // codegen fuse kernel + pairCounts all inside the gate. In the
      // single-char round a plain string replace replays the kernel's
      // left-to-right non-overlap rule exactly (no multichar symbol can
      // alias the needle), so the oracle covers the merge semantics too.
      val syms0 = graft.text.Bpe.init(
        graft.text.Bpe.wordFreqs(docs(s, dir).select(col("text")), "text"))
      val merged = graft.text.Bpe.applyMerge(syms0, "e", "s")
      graft.text.Bpe.pairCounts(merged).orderBy("a", "b")
    }),

    "q73_boilerplate" -> ((s, dir) => {
      // boilerplate density: every doc gets a per-source footer (hot —
      // ~100 docs per source), even docs also a 7-word banner (hot), and
      // the text-to-footer boundary grams stay unique (cold). Distinct
      // grams per doc ⇒ counts are doc frequencies; integers+ppm only.
      val corpus = docsWide(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
            lit(" subscribe to our newsletter for updates today"))
            .otherwise(lit("")),
          lit(" copyright "), col("source"), lit(" all rights reserved"))
          .as("text"))
      graft.text.HeavyHitters.boilerplateDensity(corpus, "doc_id", "text",
          n = 5, minDocFreq = 5L, width = 4096)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hot"),
          col("hot_ppm"))
        .orderBy("doc_id")
    }),

    "q72_heavy_hitters" -> ((s, dir) => {
      // sketch-pruned exact heavy hitters: 7 hot keys (~21 hits each), one
      // boundary key at exactly the threshold, 350 cold singletons. The
      // CMS candidate pass is inside the gate — an under-counting sketch
      // would drop a hot key and hash-mismatch, an over-eager one only
      // shuffles extra rows the final HAVING removes.
      val keys = docs(s, dir).select(
        when(col("doc_id") % 10 < 3, pmod(col("doc_id"), lit(7L)))
          .when(col("doc_id") % 50 === 9, lit(7L))
          .otherwise(col("doc_id") + 1000L).cast("long").as("key"))
      graft.text.HeavyHitters.aboveThreshold(keys, "key", minCount = 10L,
          width = 4096)
        .orderBy("key")
    }),

    "q71_keep_best" -> ((s, dir) => {
      // quality-aware survivor selection (SemDeDup keep-the-best-copy):
      // same cluster machinery as q45, but the representative is the
      // argmax of a planted integer quality score ((id*37)%1000 — varies
      // independently of id order so min-id and best-quality genuinely
      // differ), ties to min id. The oracle replays clustering (recursive
      // closure) AND the two-stage argmax.
      val corpus = nearDupCorpus(s, dir)
      val cands = graft.dedup.Dedup.minHashCandidates(corpus, "id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 4)
      val pairs = graft.dedup.Dedup.verifyJaccard(cands, corpus, "id", "text", shingleK = 3)
        .where(col("jaccard") >= 0.7)
        .select("id_a", "id_b")
      val labels = graft.dedup.Components.connectedComponents(pairs)
      val quality = corpus.select(col("id"), pmod(col("id") * 37L, lit(1000L)).as("score"))
      val keep = graft.dedup.Dedup.keepBestInClusters(labels, quality)
      corpus.join(keep.select("id", "keep_id"), Seq("id"), "left")
        .where(col("keep_id").isNull || col("keep_id") === col("id"))
        .select(col("id"), length(col("text")).cast("long").as("n_chars"))
        .orderBy("id")
    }),

    "q70_lm_quality" -> ((s, dir) => {
      // CCNet-style LM quality scoring: train an add-one bigram LM on the
      // "trusted" third of the corpus (doc_id%3==0), score EVERY document
      // by fixed-point negative log-likelihood per token. The ln of each
      // count is rounded once at train time (half-up, scale 1e6 — the BM25
      // discipline), so scores are pure BIGINT sums both engines replay
      // exactly; the oracle rebuilds the same counts from string grams.
      val ref = docsWide(s, dir).where(col("doc_id") % 3 === 0)
        .select(col("text"))
      val lm = graft.text.LangModel.train(ref, "text")
      graft.text.LangModel.scoreDocs(
          docsWide(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", lm)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("ll_fp"),
          col("nll_tok_fp"))
        .orderBy("doc_id")
    }),

    "q69_cuckoo_unseen" -> ((s, dir) => {
      // the cuckoo twin of q05: same exact-membership contract (sketch
      // positives verified by anti-join, negatives bypass it), partitioned
      // cuckoo bank instead of the bloom. Output is EXACT regardless of the
      // sketch, so the oracle is the plain anti-join — what the query pins
      // is that the cuckoo pre-filter path loses/invents nothing.
      val cands = Seen.withUrlKeys(frontier(s, dir))
      val seen = cands.where(col("seed_idx") % 3 === 0)
        .select("url_hash", "canonical_url")
      Seen.filterUnseenCuckooBucketed(cands, seen, buckets = 16)
        .select(col("seed_idx"), col("canonical_url"))
        .orderBy("seed_idx")
    }),

    "q68_bm25_topk" -> ((s, dir) => {
      // BM25 top-10 per probe query over the corpus vocabulary (one query
      // with an out-of-vocabulary term exercises the missing-term path, one
      // with a repeated term the within-query dedup). Integer fixed-point
      // scores → identical ranking in any engine.
      import s.implicits._
      val qs = Seq(
        (0L, "hash join strategyzzz"),
        (1L, "fast vector scan"),
        (2L, "window merge sort"),
        (3L, "stream batch data"),
        (4L, "the slow customer the")).toDF("qid", "qtext")
      graft.text.Bm25.topK(
          docsWide(s, dir).select(col("doc_id").as("id"), col("text")),
          "id", "text", qs, "qid", "qtext", k = 10)
        .orderBy("qid", "rank")
    }),

    "q67_sig_ledger" -> ((s, dir) => {
      // incremental dedup against a persisted signature ledger: ledger =
      // every original's 8 band rows (bucket = (id%1000)*8+band, collision
      // -free by construction); new wave = %7 near-dup copies that share
      // exactly their original's buckets on bands 0-3 (shifted +500 on the
      // rest → partial 4-band hit, dup_of = the original) and %13 fresh
      // docs in a disjoint +600 bucket range (novel). The screen kernel —
      // rep-collapse, probe join, hit counts — is pure integer arithmetic
      // both engines replay; the murmur banding upstream is spec-pinned.
      val bandSeq = sequence(lit(0), lit(7))
      val idMod = pmod(col("doc_id"), lit(1000L))
      val ledger = docs(s, dir).select(col("doc_id").as("id"),
        posexplode(transform(bandSeq, b => idMod * 8 + b)).as(Seq("band", "bucket")))
      val copies = docs(s, dir).where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("id"),
          posexplode(transform(bandSeq, b =>
            when(b < 4, idMod * 8 + b).otherwise((idMod + 500L) * 8 + b)))
            .as(Seq("band", "bucket")))
      val fresh = docs(s, dir).where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000L).as("id"),
          posexplode(transform(bandSeq, b => (idMod + 600L) * 8 + b))
            .as(Seq("band", "bucket")))
      graft.dedup.SigLedger.screenBands(ledger, copies.unionByName(fresh))
        .select(col("id"), col("n_hit_bands"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          col("novel").cast("long").as("novel"))
        .orderBy("id")
    }),

    "q66_host_quality" -> ((s, dir) => {
      // RefinedWeb-style HOST-level gate over the q46 per-doc fixture:
      // sources 0/5/10/15 coincide with the %5 spam-tail residue (source =
      // doc_id%20), so every one of their docs fails → pass_ppm 0 → host
      // ruled out; the rest sit at 480-560k ppm and clear the 400k bar.
      // n_survivors replays the doc∧host composition: 0 on blocked hosts.
      val ftext =
        when(col("doc_id") % 7 === 0, lit("a b c"))
          .when(col("doc_id") % 11 === 0,
            lit(Seq.fill(12)("verylongsyntheticword").mkString(" ")))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 5 === 0, repeat(lit(" spam ham"), 30)).otherwise(lit("")),
            when(col("doc_id") % 3 === 0,
              lit("\nxx yy\nxx yy\nxx yy\nxx yy")).otherwise(lit(""))))
      val gated = graft.text.CorpusFilter.withGate(
        docs(s, dir).select(col("doc_id"), col("source"), ftext.as("text")), "text")
      val hq = graft.text.CorpusFilter.hostQuality(gated, "source",
        minDocs = 5L, minPassPpm = 400000L)
      val surv = graft.text.CorpusFilter.survivorsByHost(gated, "source",
          minDocs = 5L, minPassPpm = 400000L)
        .groupBy(col("source").as("host"))
        .agg(count(lit(1)).as("n_survivors"))
      hq.join(surv, Seq("host"), "left")
        .select(col("host"), col("n_docs"), col("n_passed"), col("host_tokens"),
          col("pass_ppm"), col("host_ok").cast("long").as("host_ok"),
          coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
        .orderBy("host")
    }),

    "q63_round5_capstone" -> ((s, dir) => {
      // the round-5 pipeline end to end, every stage the real operator:
      // PII scrub → eval-set decontamination (kill list) → source-mixture
      // reweighting → token-budget packing → per-shard stats. The oracle
      // replays the entire chain in SQL (regexp scrub, n-gram kill set,
      // LCG sampling, integer prefix-sum packing).
      import s.implicits._
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@ex.org"))
      val scrubbed = docs(s, dir).select(col("doc_id"), col("source"),
        graft.text.Pii.scrub(planted).as("text"))
      val evalSet = docs(s, dir).where(col("doc_id") % 10 === 3)
        .select(concat_ws(" ",
          slice(filter(split(col("text"), "\\s+"), t => t =!= ""), 1, 15))
          .as("eval_text"))
      val kill = graft.dedup.Decontaminate
        .killList(scrubbed, "doc_id", "text", evalSet, "eval_text", n = 8)
        .select(col("id").as("doc_id"))
      val clean = scrubbed.join(kill, Seq("doc_id"), "left_anti")
      val u = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000L))
        .cast("double") / 1000000.0d
      val mixed = graft.text.CorpusFilter.sampleBySource(clean, "source",
        Map("src0" -> 2.0, "src1" -> 2.0, "src2" -> 0.5), defaultWeight = 1.0, u = u)
      val t = mixed.select((col("doc_id") * 4 + col("copy")).as("ord"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      graft.pipeline.Pack.packByTokenBudget(t, "ord", "tokens", budget = 256L)
        .groupBy(col("bin_start").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("tokens"),
          max(col("bins_spanned")).as("max_span"))
        .orderBy("shard")
    }),

    "q61_url_gate" -> ((s, dir) => {
      // URL-level quality gate: blocklist hosts match the host AND its
      // parent domains (ads.src3.test is caught by the src3.test entry;
      // plain src1.test is NOT caught by the ads.src1.test entry), plus
      // path keyword screening — the fetch-avoiding filter stage.
      import s.implicits._
      val f = docs(s, dir).select(
        concat(lit("http://"),
          when(col("doc_id") % 9 === 0, lit("ads.")).otherwise(lit("")),
          col("source"), lit(".test/docs/"), col("doc_id").cast("string"),
          when(col("doc_id") % 7 === 0, lit("/casino-night")).otherwise(lit("")))
          .as("url"),
        col("doc_id"))
      val blocked = Seq("src3.test", "src7.test", "ads.src1.test").toDF("host")
      graft.url.UrlGate.gate(f, "url", blocked, Seq("casino"))
        .select(col("doc_id"), col("url"), col("url_ok"),
          concat_ws(",", col("url_reasons")).as("reasons"))
        .orderBy("doc_id")
    }),

    "q62_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC normalization (pre-tokenization hygiene): planted
      // decomposed e + U+0301 must compose to the single codepoint both
      // engines agree on — DuckDB nfc_normalize is the oracle.
      val planted = concat(col("text"), lit(" caf"), lit("e\u0301"),
        lit(" e"), lit("\u0301"), lit("end"))
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.normalize_unicode(planted).as("text_nfc"))
        .select(col("doc_id"), col("text_nfc"),
          length(col("text_nfc")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    "q60_span_cut" -> ((s, dir) => {
      // the full Lee et al. dedup composition: keep-first duplicate spans
      // (the globally first occurrence of every repeated 5-gram survives,
      // later ones are marked) → row-local span cut. The duplicated docs
      // (id ≥ 100000, appended after the originals) lose their whole
      // text; originals keep theirs; incidental repeats cut at the later
      // of the two positions. Oracle replays the occurrence rank, the
      // islands merge, and the indexed token filter in SQL.
      val corpus = dupCorpus(s, dir)
      val spans = graft.dedup.Dedup.duplicateSpans(corpus, "id", "text",
        k = 5, keepFirst = true)
      graft.dedup.Dedup.cutSpans(corpus, "id", "text", spans)
        .select(col("id"), col("n_tokens"), col("n_tokens_cut"), col("text_cut"))
        .orderBy("id")
    }),

    "q59_dup_spans" -> ((s, dir) => {
      // exact repeated-substring spans (Lee et al. '21 family): every 5th
      // doc duplicated verbatim → full-text spans on both copies, plus the
      // word-soup's incidental repeated 5-grams; stride-1 window hashing +
      // one count aggregate + per-doc gaps-and-islands merge. Integer
      // token positions end to end.
      graft.dedup.Dedup.duplicateSpans(dupCorpus(s, dir), "id", "text", k = 5)
        .select(col("id"), col("span_start"), col("span_end"), col("n_windows"))
        .orderBy("id", "span_start")
    }),

    "q55_decontaminate" -> ((s, dir) => {
      // eval-set n-gram decontamination (GPT-3 appendix C style): eval =
      // first-15-token prefixes of every doc_id%10==3 document, so those
      // docs contaminate PARTIALLY (prefix 8-grams hit, the rest don't);
      // a universal 8-token boilerplate tail on every corpus doc AND the
      // eval texts would mark the whole corpus contaminated — the
      // doc-frequency cap (100) drops it inside the gate, which is the
      // skew story at fixture scale. Counts + integer ppm only: exact in
      // any engine.
      val boiler = " zz quick brown fox jumps over lazy dog"
      val corpus = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(boiler)).as("text"))
      val evalSet = docs(s, dir).where(col("doc_id") % 10 === 3)
        .select(concat(
          concat_ws(" ", slice(filter(split(col("text"), "\\s+"), t => t =!= ""), 1, 15)),
          lit(boiler)).as("eval_text"))
      graft.dedup.Decontaminate
        .contamination(corpus, "doc_id", "text", evalSet, "eval_text",
          n = 8, maxDocFreq = 100)
        .select(col("id").as("doc_id"), col("n_ngrams"), col("n_hit"), col("frac_ppm"))
        .orderBy("doc_id")
    }),

    "q56_mixture_sample" -> ((s, dir) => {
      // source-mixture reweighting: upsample src0/src1 2.5×, downsample
      // src2/src3 to 0.25×, drop src4, keep the rest — deterministic
      // hash-threshold decisions. The oracle u is an explicit LCG both
      // engines compute bit-for-bit (the production u is uniformHash/
      // xxhash64 — same operator, hash swapped for replayability); the
      // fractional weights (.5/.25) are exact binary fractions so the
      // u < frac(w) comparison has no float edge.
      val u = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000L))
        .cast("double") / 1000000.0d
      graft.text.CorpusFilter.sampleBySource(
          docs(s, dir).select(col("doc_id"), col("source")), "source",
          Map("src0" -> 2.5, "src1" -> 2.5, "src2" -> 0.25, "src3" -> 0.25,
            "src4" -> 0.0),
          defaultWeight = 1.0, u = u)
        .select(col("doc_id"), col("source"), col("copy"))
        .orderBy("doc_id", "copy")
    }),

    "q57_pii_scrub" -> ((s, dir) => {
      // PII redaction: emails / IPv4s / phones planted from doc_id, plus
      // near-miss negatives (a 3-octet version string, a 5-3-4 digit group,
      // a TLD-less address) that must survive unredacted. The pattern
      // subset is Java-regex/RE2 compatible, so the oracle replays the
      // exact regexp_replace chain.
      val planted = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@ex.org"),
        lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
        lit(" call 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" v1.2.3 12345-678-9012 not@an"))
      graft.text.Pii.withRedactions(
          docs(s, dir).select(col("doc_id"), planted.as("text")), "text")
        .select(col("doc_id"), col("text_scrubbed"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy("doc_id")
    }),

    "q50_indegree_priority" -> ((s, dir) => {
      // link-graph authority priority: planted edges point 3× per doc at
      // the low-id urls (dst = (doc_id*7 + j*13) mod 97) → in-degree count
      // + left join + packed order key, all integer arithmetic
      val fr = docs(s, dir).select(
        concat(lit("u://"), col("doc_id").cast("string")).as("url"),
        col("doc_id").as("seed_idx"))
      val edges = docs(s, dir)
        .select(col("doc_id"), explode(sequence(lit(0L), lit(2L))).as("j"))
        .select(concat(lit("u://"),
          ((col("doc_id") * 7 + col("j") * 13) % 97).cast("string")).as("url"))
      Scheduler.inDegreePriority(fr, edges)
        .select(col("url"), col("in_degree"), col("order_key"))
        .orderBy("url")
    }),

    "q49_token_packing" -> ((s, dir) => {
      // concat-and-split shard assignment (LM-pretraining packing): docs in
      // doc_id order, 512-token bins, each doc's bin coordinates from ONE
      // skew-proof exact prefix sum (no global unpartitioned window)
      val t = docs(s, dir).select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      graft.pipeline.Pack.packByTokenBudget(t, "doc_id", "tokens", budget = 512L)
        .select(col("doc_id"), col("tokens"), col("bin_start"),
          col("offset_in_bin"), col("bins_spanned"))
        .orderBy("doc_id")
    }),

    "q48_refresh_schedule" -> ((s, dir) => {
      // batch refresh-crawl: ledger rows (with a second append for every
      // third url — the max-wave last-fetch semantics must pick the later
      // stamp) → stale set at currentWave=10 with TTL 4, age-priority
      // packed order keys. Pure integer arithmetic end to end, so the
      // DuckDB oracle recomputes keys exactly.
      def urlOf = concat(lit("http://h"), (col("doc_id") % 20).cast("string"),
        lit(".test/d/"), col("doc_id").cast("string"))
      val first = docs(s, dir).select(col("doc_id").as("url_hash"),
        urlOf.as("canonical_url"), (col("doc_id") % 9).cast("int").as("wave"))
      val refetched = docs(s, dir).where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("url_hash"), urlOf.as("canonical_url"),
          (col("doc_id") % 5).cast("int").as("wave"))
      graft.frontier.Ledger
        .staleFrontierFrom(first.unionByName(refetched), currentWave = 10, maxAgeWaves = 4)
        .select(col("url"), col("seed_idx"), col("age").cast("long").as("age"))
        .orderBy("url")
    }),

    "q47_host_budget" -> ((s, dir) => {
      // per-host crawl budget: first 15 urls per host fetch this wave, the
      // rest defer — the cap rides the already-computed skew-proof host_pos
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("canonical_url", "host_rev", "seed_idx")
      val sched = Scheduler.schedule(f, gapSeconds = 3L, salted = true)
      val (kept, _) = Scheduler.capPerHost(sched, 15L)
      kept.withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
        // window is a single-task sort — never copy into a production path;
        // the production rank is Scheduler.perHostRankSalted.
        row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("seed_idx")))
            .cast("long"))
        .select("fetch_seq", "slot", "host_rev", "canonical_url", "seed_idx", "host_pos")
        .orderBy("fetch_seq")
    }),

    "q46_quality_gate" -> ((s, dir) => {
      // the composed Gopher-style gate, fixture tripping every reason:
      // %7 → 3-token stub (too_short + low mean word len + trivially
      // repetitive bigrams), %11 → 12×21-char words (word_len high), %5 →
      // 30× ' spam ham' tail (repeated_bigram), %3 → 4 duplicate lines
      val ftext =
        when(col("doc_id") % 7 === 0, lit("a b c"))
          .when(col("doc_id") % 11 === 0,
            lit(Seq.fill(12)("verylongsyntheticword").mkString(" ")))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 5 === 0, repeat(lit(" spam ham"), 30)).otherwise(lit("")),
            when(col("doc_id") % 3 === 0,
              lit("\nxx yy\nxx yy\nxx yy\nxx yy")).otherwise(lit(""))))
      graft.text.CorpusFilter.withGate(
          docs(s, dir).select(col("doc_id"), ftext.as("text")), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac"),
          array_join(col("reasons"), ",").as("reasons"),
          col("passed").cast("long").as("passed"))
        .orderBy("doc_id")
    }),

    "q42_sitemap" -> ((s, dir) => {
      // per-host sitemap.xml synthesized from the corpus (lexically-sorted
      // <url> entries so both engines build the identical document), parsed
      // back through Sitemap.locs — the whitespace padding exercises trim,
      // the <lastmod> noise exercises the non-<loc> skip
      val sm = docs(s, dir).groupBy("source").agg(
        concat(lit("<?xml version=\"1.0\"?><urlset>"),
          concat_ws("", array_sort(collect_list(concat(
            lit("<url><loc> http://"), col("source"), lit(".test/docs/"),
            col("doc_id").cast("string"),
            lit(" </loc><lastmod>2026-01-01</lastmod></url>"))))),
          lit("</urlset>")).as("xml"))
      sm.select(col("source"), explode(graft.frontier.Sitemap.locs(col("xml"))).as("url"))
        .orderBy("source", "url")
    }),

    "q43_priority_schedule" -> ((s, dir) => {
      // frontier prioritization by link in-degree (doc i is linked from
      // floor-div parents 2i..2i+1 and 3i..3i+2): one count aggregate, one
      // key join, and the SAME salted rank machinery — priority rides in
      // the packed (priority, seed) integral order key
      val links = docs(s, dir).select(explode(array(
        floor(col("doc_id") / 2).cast("long"),
        floor(col("doc_id") / 3).cast("long"))).as("target"))
      val indeg = links.groupBy("target").agg(count(lit(1)).as("priority"))
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("canonical_url", "host_rev", "seed_idx")
        .join(indeg, col("seed_idx") === col("target"), "left")
        .withColumn("priority", coalesce(col("priority"), lit(0L)))
        .withColumn("order_key",
          Scheduler.priorityOrderKey(col("priority"), col("seed_idx")))
        .drop("target")
      Scheduler.schedule(f, gapSeconds = 3L, salted = true, orderCol = "order_key")
        .withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
        // window is a single-task sort — never copy into a production path;
        // the production rank is Scheduler.perHostRankSalted.
        row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("order_key")))
            .cast("long"))
        .select(col("fetch_seq"), col("slot"), col("host_rev"), col("canonical_url"),
          col("seed_idx"), col("priority"), col("host_pos"))
        .orderBy("fetch_seq")
    }),

    "q44_adaptive_backoff" -> ((s, dir) => {
      // wave-K metrics feed wave-K+1 politeness: odd doc_ids 404ed, so each
      // host's observed error rate sets its gap = 1 + ceil(3 × err_rate)
      val f = Seen.withUrlKeys(frontier(s, dir))
        .select("canonical_url", "host", "host_rev", "seed_idx")
      val metrics = f.select(col("host"),
        when(col("seed_idx") % 2 === 1, lit(404)).otherwise(lit(200)).as("status"))
      val gaps = Scheduler.adaptiveGaps(metrics, base = 1L, scale = 3)
      Scheduler.schedule(f.join(gaps, Seq("host")), salted = true,
          gapCol = Some(col("gap_seconds")))
        .withColumn("fetch_seq",
          // FIXTURE-ONLY total order (sf oracle scale): a global unpartitioned
        // window is a single-task sort — never copy into a production path;
        // the production rank is Scheduler.perHostRankSalted.
        row_number().over(Window.orderBy(col("slot"), col("host_rev"), col("seed_idx")))
            .cast("long"))
        .select(col("fetch_seq"), col("slot"), col("host_rev"), col("canonical_url"),
          col("seed_idx"), col("host_pos"), col("gap_seconds"))
        .orderBy("fetch_seq")
    }),

    "q32_json_parity" -> ((s, dir) => {
      // to_json output contract (reference writes one JSON object per url,
      // `web_scraper_pipeline.py:231-232`); DuckDB oracle reconstructs the
      // exact byte format Spark emits (no spaces, field order preserved)
      docs(s, dir)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("js"))
        .orderBy("doc_id")
    })
  )

  // ---------- DuckDB oracle twins -------------------------------------------

  def oracleSql: Map[String, String] = Map(
    "q01_canonicalize" ->
      """SELECT doc_id AS seed_idx,
        |  'HTTP://' || upper(source) || '.Test:80/docs/' || doc_id || '/./view?x=%7Eok#frag' AS url,
        |  'http://' || source || '.test/docs/' || doc_id || '/view?x=~ok' AS canonical_url,
        |  source || '.test' AS host,
        |  'test.' || source AS host_rev
        |FROM documents ORDER BY seed_idx""".stripMargin,

    "q02_seen_dedup" ->
      """WITH f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS url, doc_id AS seed_idx FROM documents
        |  UNION ALL
        |  SELECT 'http://' || source || '.test/docs/' || doc_id, doc_id + 10000 FROM documents WHERE doc_id % 3 = 0)
        |SELECT min(seed_idx) AS seed_idx, url AS canonical_url
        |FROM f GROUP BY url ORDER BY seed_idx""".stripMargin,

    "q03_schedule" ->
      """WITH f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |         'test.' || source AS host_rev, doc_id AS seed_idx
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY host_rev ORDER BY seed_idx) AS host_pos FROM f)
        |SELECT row_number() OVER (ORDER BY (host_pos - 1) * 3, host_rev, seed_idx) AS fetch_seq,
        |       (host_pos - 1) * 3 AS slot, host_rev, canonical_url, seed_idx, host_pos
        |FROM r ORDER BY fetch_seq""".stripMargin,

    "q04_host_stats" ->
      """SELECT 'test.' || source AS host_rev, count(*) AS n_urls,
        |  min(doc_id) AS min_seed, max(doc_id) AS max_seed,
        |  count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY 1 ORDER BY host_rev""".stripMargin,

    "q05_bloom_unseen" ->
      """SELECT doc_id AS seed_idx, 'http://' || source || '.test/docs/' || doc_id AS canonical_url
        |FROM documents WHERE doc_id % 2 = 1 ORDER BY seed_idx""".stripMargin,

    "q06_preprocess" ->
      ("SELECT doc_id, replace(text, ' merge ', ' ' || chr(10) || ' merge ') AS clean " +
        "FROM documents ORDER BY doc_id"),

    "q07_tokens" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text || ' 42 ab9 x!'), '\s+')) AS n_ws,
        |  len(regexp_extract_all(text || ' 42 ab9 x!', '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q08_langid" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(toks, x -> x IN ('der','die','und','das','nicht'))) AS h_de,
        |  len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS h_en,
        |  len(list_filter(toks, x -> x IN ('el','la','que','los','una'))) AS h_es,
        |  len(list_filter(toks, x -> x IN ('le','la','les','des','est'))) AS h_fr,
        |  len(list_filter(toks, x -> x IN ('的','是','了','在','我'))) AS h_zh
        |FROM t)
        |SELECT doc_id, CASE
        |  WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
        |  WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
        |  WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
        |  WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
        |  WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
        |  ELSE 'zh' END AS lang_guess
        |FROM h ORDER BY doc_id""".stripMargin,

    "q09_quality" ->
      s"""WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_words,
         |  round(len(regexp_replace(trim(text), '\\s+', '', 'g')) / len(toks), 6) AS mean_word_len,
         |  round(len(list_filter(toks, x -> x IN ($StopwordsSql))) / len(toks), 6) AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "q10_extract_roundtrip" ->
      "SELECT doc_id, 'Doc ' || doc_id || chr(10) || text AS extracted FROM documents ORDER BY doc_id",

    "q11_chunks_identity" ->
      "SELECT doc_id, CAST(0 AS INTEGER) AS chunk_id, text AS chunk FROM documents ORDER BY doc_id, chunk_id",

    "q12_chunks_guard" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |                  len(regexp_split_to_array(trim(text), '\s+')) AS nw FROM documents),
        |c AS (SELECT doc_id, toks, nw,
        |        unnest(generate_series(0, CAST(ceil(nw / 16.0) AS INT) - 1)) AS cid FROM t)
        |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
        |  CASE WHEN cid = 0 THEN array_to_string(toks[1:least(nw, 16)], ' ')
        |       ELSE array_to_string(toks[cid*16-4:cid*16], ' ') || ' ' ||
        |            array_to_string(toks[cid*16+1:least(nw, (cid+1)*16)], ' ') END AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // chunker accumulate/flush/overlap at (32, 8) over paragraphs
    // [T', T', "the end"], T' = text + 8 pads (word count nw ≥ 18 ⇒ the two
    // T' paragraphs always overflow and each flush window-splits T' into
    // k = ceil(nw/32) windows). The trailing 2-word paragraph branches:
    // nw ≤ 30 ⇒ it ACCUMULATES onto the second T' (2 chunks total:
    // [T', "T' the end"]); nw ≥ 31 ⇒ it flushes separately (2k+1 chunks).
    // Overlap prepends the last 8 words of the PRE-overlap previous chunk
    // (reference :155-164).
    "q13_chunks_default" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text || ' p1 p2 p3 p4 p5 p6 p7 p8'), '\s+') AS toks,
        |    len(regexp_split_to_array(trim(text || ' p1 p2 p3 p4 p5 p6 p7 p8'), '\s+')) AS nw
        |  FROM documents),
        |p AS (SELECT doc_id, toks, nw, CAST(ceil(nw / 32.0) AS INT) AS k,
        |        (nw <= 30) AS merged FROM t),
        |c AS (SELECT doc_id, toks, nw, k, merged,
        |    unnest(generate_series(0, CASE WHEN merged THEN 1 ELSE 2 * k END)) AS cid FROM p),
        |s AS (SELECT doc_id, cid,
        |    CASE WHEN merged AND cid = 0 THEN array_to_string(toks, ' ')
        |         WHEN merged THEN array_to_string(toks, ' ') || ' the end'
        |         WHEN cid = 2 * k THEN 'the end'
        |         ELSE array_to_string(toks[32 * (cid % k) + 1 : least(nw, 32 * ((cid % k) + 1))], ' ')
        |    END AS pre,
        |    CASE WHEN cid = 0 THEN NULL
        |         WHEN merged THEN array_to_string(toks[greatest(1, nw - 7) : nw], ' ')
        |         ELSE array_to_string(
        |           toks[greatest(32 * ((cid - 1) % k) + 1,
        |                         least(nw, 32 * (((cid - 1) % k) + 1)) - 7)
        |                : least(nw, 32 * (((cid - 1) % k) + 1))], ' ')
        |    END AS tail8
        |  FROM c),
        |f AS (SELECT doc_id, cid,
        |    CASE WHEN cid = 0 THEN pre ELSE tail8 || ' ' || pre END AS chunk FROM s)
        |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id, chunk,
        |  CAST(len(regexp_split_to_array(chunk, '\s+')) AS BIGINT) AS n_words
        |FROM f ORDER BY doc_id, chunk_id""".stripMargin,

    "q14_embed_norm" ->
      "SELECT doc_id, CAST(384 AS BIGINT) AS dim, CAST(1.0 AS DOUBLE) AS norm FROM documents ORDER BY doc_id",

    "q15_ann_topk" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve FROM embeddings),
        |q AS (SELECT * FROM v WHERE vec_id < 10),
        |s AS (SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |        list_dot_product(q.ve, c.ve) /
        |          (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) AS cos
        |      FROM q, v c),
        |r AS (SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank FROM s)
        |SELECT q_id, rank, nn_id FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q35_ann_ivf" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
        |    (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
        |    (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
        |    (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
        |    (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS cell
        |  FROM embeddings),
        |q AS (SELECT *, [cell, xor(cell, 1)] AS probes FROM v WHERE vec_id < 10),
        |s AS (SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |        list_dot_product(q.ve, c.ve) /
        |          (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) AS cos
        |      FROM q JOIN v c ON list_contains(q.probes, c.cell)),
        |r AS (SELECT q_id, nn_id,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
        |      FROM s)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id
        |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q16_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
         |             $q17BucketSqlList AS bks
         |           FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id < 10),
         |s AS (SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
         |        list_dot_product(q.ve, c.ve) /
         |          (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))) AS cos
         |      FROM q JOIN v c ON list_has_any(q.bks, c.bks)),
         |r AS (SELECT q_id, nn_id,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, nn_id
         |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "q17_near_dup_cosine" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
         |             $q17BucketSqlList AS bks
         |           FROM embeddings),
         |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm, bks FROM v)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm), 3) AS cos3
         |FROM n a JOIN n b ON a.vec_id < b.vec_id AND list_has_any(a.bks, b.bks)
         |WHERE list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q18_exact_dedup" ->
      """WITH c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT min(id) AS keep_id, count(*) AS n_dups
        |FROM c GROUP BY text HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,

    "q19_minhash_jaccard" ->
      """WITH c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' extra tail words appended here'
        |  FROM documents WHERE doc_id % 7 = 0),
        |sh AS (SELECT id,
        |  list_distinct(list_transform(
        |    range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
        |    i -> regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+2] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+3])) AS sset
        |FROM c),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        len(list_intersect(a.sset, b.sset)) AS inter,
        |        len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS uni
        |      FROM sh a JOIN sh b ON a.id < b.id)
        |SELECT id_a, id_b, round(inter / uni, 6) AS jacc6
        |FROM p WHERE inter / uni >= 0.7 ORDER BY id_a, id_b""".stripMargin,

    "q20_simhash_pairs" ->
      """WITH s AS (SELECT doc_id AS id,
        |  xor((b << 20) | b, doc_id % 4) AS sig FROM (
        |    SELECT doc_id,
        |      ((doc_id // 4) * 1099511628211) % 1099511627776 AS b
        |    FROM documents))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.id < b.id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q21_fingerprint_overlap" ->
      """WITH pr AS (
        |  SELECT doc_id AS id, (doc_id // 5) * 100 + j AS print
        |  FROM documents, unnest(range(0, 5)) AS t(j)
        |  WHERE j <= 3 + doc_id % 2
        |  UNION ALL
        |  SELECT doc_id AS id, 999999999 AS print FROM documents),
        |kept AS (
        |  SELECT * FROM pr WHERE print NOT IN (
        |    SELECT print FROM pr GROUP BY print HAVING count(*) > 50))
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_prints
        |FROM kept a JOIN kept b ON a.print = b.print AND a.id < b.id
        |GROUP BY a.id, b.id HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q22_events_first" ->
      """WITH r AS (SELECT user_id, event_id, ts,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events)
        |SELECT user_id, event_id, ts FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q23_events_daily" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q24_events_json" ->
      "SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k FROM events ORDER BY event_id",

    "q25_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS base_cents,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q26_join_topk" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY revenue_cents DESC, c_custkey LIMIT 10""".stripMargin,

    "q32_json_parity" ->
      ("""SELECT doc_id, '{"doc_id":' || doc_id || ',"lang":"' || lang || """ +
        """'","n_chars":' || n_chars || '}' AS js FROM documents ORDER BY doc_id"""),

    "q28_multimodal_features" ->
      """SELECT doc_id AS asset_id,
        |  64 + (doc_id % 8) * 32 AS width,
        |  48 + (doc_id % 5) * 32 AS height,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(127.5 AS DOUBLE) AS mean_luma,
        |  round(list_aggregate(
        |    list_transform(range(64),
        |      j -> CAST((doc_id * 7 + (j // 8) * (64 + (doc_id % 8) * 32) + (j % 8)) % 256 AS DOUBLE)),
        |    'avg'), 6) AS mean_luma8,
        |  'http://img.test/' || doc_id AS source_url
        |FROM documents ORDER BY asset_id""".stripMargin,

    "q36_audio_features" ->
      """WITH s AS (SELECT doc_id,
        |    list_transform(range(64), i -> ((doc_id * 11 + i * 3) % 256 - 128) / 128.0) AS smp
        |  FROM documents)
        |SELECT doc_id AS asset_id,
        |  8000 + (doc_id % 3) * 4000 AS sample_rate,
        |  CAST(64 AS BIGINT) AS n_samples,
        |  round(sqrt(list_aggregate(list_transform(smp, x -> x * x), 'avg')), 6) AS rms
        |FROM s ORDER BY asset_id""".stripMargin,

    "q37_video_frames" ->
      """SELECT doc_id AS asset_id, CAST(f AS INTEGER) AS frame_idx,
        |  32 + (doc_id % 4) * 16 AS width,
        |  24 + (doc_id % 3) * 12 AS height,
        |  (doc_id * 13 + f * 5) % 256 AS luma
        |FROM documents, unnest([0, 6, 12, 18]) AS t(f)
        |ORDER BY asset_id, frame_idx""".stripMargin,

    "q29_pages_extract" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || chr(10) || text || chr(10) ||
        |  'alpha ' || doc_id || ' beta ' || doc_id || chr(10) || 'beta ' || doc_id AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q30_pipeline_results" ->
      """SELECT 'http://' || source || '.test/docs/' || doc_id AS url,
        |  CAST(1 AS BIGINT) AS n_chunks, CAST(1 AS BIGINT) AS n_embeddings,
        |  len('Doc ' || doc_id || chr(10) || text || chr(10) ||
        |      'alpha ' || doc_id || ' beta ' || doc_id || chr(10) || 'beta ' || doc_id) AS n_chars
        |FROM documents ORDER BY url""".stripMargin,

    "q31_pagetable_fetch" ->
      """SELECT 'http://' || source || '.test/docs/' || doc_id AS url,
        |  len(text) AS n_chars, lang
        |FROM documents WHERE doc_id % 3 = 0 ORDER BY url""".stripMargin,

    "q33_extract_links" ->
      """WITH l AS (
        |  SELECT doc_id, 0 AS pos,
        |         'http://' || source || '.test/docs/' || doc_id || '/next' AS link FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1,
        |         'http://' || source || '.test/docs/' || doc_id || '/rel/' || (doc_id % 97) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, 'http://ext.test/e/' || doc_id FROM documents)
        |SELECT doc_id, CAST(pos AS INTEGER) AS pos, link FROM l ORDER BY doc_id, pos""".stripMargin,

    "q34_fetch_status" ->
      """WITH t AS (SELECT doc_id, text,
        |             len(regexp_split_to_array(trim(text), '\s+')) AS nw,
        |             CASE WHEN CAST(doc_id AS VARCHAR) LIKE '7%' THEN 451
        |                  WHEN doc_id % 2 = 1 THEN 404
        |                  WHEN doc_id % 10 = 6 THEN 422
        |                  ELSE 200 END AS status
        |           FROM documents)
        |SELECT doc_id AS seed_idx, status,
        |  CASE WHEN status = 200 THEN len(text) ELSE NULL END AS n_chars,
        |  CASE WHEN status = 200 THEN CAST(ceil(nw / 16.0) AS BIGINT) ELSE NULL END AS n_chunks
        |FROM t ORDER BY seed_idx""".stripMargin,

    "q38_schedule_perhost_gap" ->
      """WITH f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |         'test.' || source AS host_rev, doc_id AS seed_idx,
        |         CAST(1 + (length(source || '.test') % 5) AS BIGINT) AS gap_seconds
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY host_rev ORDER BY seed_idx) AS host_pos FROM f)
        |SELECT row_number() OVER (ORDER BY (host_pos - 1) * gap_seconds, host_rev, seed_idx) AS fetch_seq,
        |       (host_pos - 1) * gap_seconds AS slot, host_rev, canonical_url, seed_idx,
        |       host_pos, gap_seconds
        |FROM r ORDER BY fetch_seq""".stripMargin,

    "q39_corpus_pipeline" ->
      """WITH c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0),
        |t AS (SELECT id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |             len(regexp_split_to_array(trim(text), '\s+')) AS nw FROM c),
        |ch AS (SELECT id, toks, nw,
        |         unnest(generate_series(0, CAST(ceil(nw / 16.0) AS INT) - 1)) AS cid FROM t),
        |s AS (SELECT id * 100000 + cid AS key,
        |        CASE WHEN cid = 0 THEN array_to_string(toks[1:least(nw, 16)], ' ')
        |             ELSE array_to_string(toks[cid*16-4:cid*16], ' ') || ' ' ||
        |                  array_to_string(toks[cid*16+1:least(nw, (cid+1)*16)], ' ') END AS chunk
        |      FROM ch),
        |d AS (SELECT min(key) AS keep_key, chunk FROM s GROUP BY chunk),
        |g AS (SELECT keep_key, chunk,
        |        CAST(len(regexp_split_to_array(chunk, '\s+')) AS BIGINT) AS n_words FROM d)
        |SELECT keep_key, chunk, n_words, CAST(384 AS BIGINT) AS dim, CAST(1.0 AS DOUBLE) AS norm
        |FROM g WHERE n_words >= 16 ORDER BY keep_key""".stripMargin,

    "q40_dup_clusters" ->
      """WITH RECURSIVE
        |c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' extra tail words appended here'
        |  FROM documents WHERE doc_id % 7 = 0),
        |sh AS (SELECT id,
        |  list_distinct(list_transform(
        |    range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
        |    i -> regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+2] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+3])) AS sset
        |FROM c),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        len(list_intersect(a.sset, b.sset)) AS inter,
        |        len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS uni
        |      FROM sh a JOIN sh b ON a.id < b.id),
        |e AS (SELECT id_a AS u, id_b AS v FROM p WHERE inter / uni >= 0.7
        |      UNION
        |      SELECT id_b, id_a FROM p WHERE inter / uni >= 0.7),
        |reach(id, l) AS (
        |  SELECT DISTINCT u, u FROM e
        |  UNION
        |  SELECT e.u, r.l FROM e JOIN reach r ON r.id = e.v)
        |SELECT id, CAST(min(l) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id ORDER BY id""".stripMargin,

    "q45_cluster_dedup" ->
      """WITH RECURSIVE
        |c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' extra tail words appended here'
        |  FROM documents WHERE doc_id % 7 = 0),
        |sh AS (SELECT id,
        |  list_distinct(list_transform(
        |    range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
        |    i -> regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+2] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+3])) AS sset
        |FROM c),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        len(list_intersect(a.sset, b.sset)) AS inter,
        |        len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS uni
        |      FROM sh a JOIN sh b ON a.id < b.id),
        |e AS (SELECT id_a AS u, id_b AS v FROM p WHERE inter / uni >= 0.7
        |      UNION
        |      SELECT id_b, id_a FROM p WHERE inter / uni >= 0.7),
        |reach(id, l) AS (
        |  SELECT DISTINCT u, u FROM e
        |  UNION
        |  SELECT e.u, r.l FROM e JOIN reach r ON r.id = e.v),
        |lab AS (SELECT id, min(l) AS cluster_id FROM reach GROUP BY id)
        |SELECT c.id, CAST(len(c.text) AS BIGINT) AS n_chars
        |FROM c LEFT JOIN lab ON c.id = lab.id
        |WHERE lab.cluster_id IS NULL OR lab.cluster_id = c.id
        |ORDER BY c.id""".stripMargin,

    "q41_repetition" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    text || chr(10) || substr(text, 1, 40) || chr(10) || substr(text, 1, 40) ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'unique trailer ' || doc_id ELSE '' END AS rep,
        |    text FROM documents),
        |l AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(rep, chr(10)), x -> trim(x)),
        |      x -> len(x) > 0) AS ls
        |  FROM f),
        |b AS (
        |  SELECT doc_id, ls,
        |    list_transform(range(len(regexp_split_to_array(trim(text), '\s+')) - 1),
        |      i -> regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |           regexp_split_to_array(trim(text), '\s+')[i+2]) AS bg
        |  FROM l)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  round((len(ls) - len(list_distinct(ls))) * 1.0 / len(ls), 6) AS dup_line_frac,
        |  round((list_sum(list_transform(ls, x -> len(x))) -
        |         list_sum(list_transform(list_distinct(ls), x -> len(x)))) * 1.0 /
        |        list_sum(list_transform(ls, x -> len(x))), 6) AS excess_char_frac,
        |  round(CAST(list_max(list_transform(list_distinct(bg),
        |          x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg), 6)
        |    AS top_bigram_frac
        |FROM b ORDER BY doc_id""".stripMargin,

    "q53_training_shards" ->
      """WITH d AS (SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |g AS (SELECT * FROM d WHERE tokens >= 30),
        |k AS (SELECT doc_id, tokens,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM g),
        |s AS (SELECT doc_id, tokens FROM k WHERE rn = 1),
        |c AS (SELECT doc_id, tokens,
        |    coalesce(sum(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS e FROM s),
        |p AS (SELECT doc_id, tokens, e // 256 AS shard,
        |    CASE WHEN tokens > 0 THEN (e + tokens - 1) // 256 - e // 256 + 1
        |         ELSE 1 END AS spanned FROM c)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS tokens,
        |  CAST(max(spanned) AS BIGINT) AS max_span
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    "q52_mean_pool" ->
      """WITH v AS (SELECT doc_id % 40 AS k,
        |    list_transform(range(0, 8), j -> CAST((doc_id + j*3) % 7 AS DOUBLE)) AS vec
        |  FROM documents),
        |m AS (SELECT k,
        |    avg(vec[1]) AS m1, avg(vec[2]) AS m2, avg(vec[3]) AS m3,
        |    avg(vec[4]) AS m4, avg(vec[5]) AS m5, avg(vec[6]) AS m6,
        |    avg(vec[7]) AS m7, avg(vec[8]) AS m8
        |  FROM v GROUP BY k),
        |n AS (SELECT *, sqrt(m1*m1 + m2*m2 + m3*m3 + m4*m4 +
        |                     m5*m5 + m6*m6 + m7*m7 + m8*m8) AS nrm FROM m)
        |SELECT k,
        |  round(CAST(CAST(m1 / nrm AS REAL) AS DOUBLE), 6) AS c1,
        |  round(CAST(CAST(m4 / nrm AS REAL) AS DOUBLE), 6) AS c4,
        |  round(CAST(CAST(m8 / nrm AS REAL) AS DOUBLE), 6) AS c8
        |FROM n ORDER BY k""".stripMargin,

    "q51_warc_pages" ->
      """SELECT 'http://' || source || '.test/docs/' || doc_id AS url,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  '2024-01-01 00:00:00' AS ts
        |FROM documents ORDER BY url""".stripMargin,

    "q107_wet_texts" ->
      """SELECT 'http://' || source || '.test/docs/' || doc_id AS url,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  '2024-01-01 00:00:00' AS ts,
        |  TRUE AS has_provenance
        |FROM documents ORDER BY url""".stripMargin,

    "q108_registrable_domains" ->
      """WITH h AS (SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'www.site' || (doc_id % 7) || '.co.uk'
        |    WHEN 1 THEN 'app' || (doc_id % 7) || '.example.com'
        |    WHEN 2 THEN 'user' || (doc_id % 7) || '.github.io'
        |    WHEN 3 THEN 'shop' || (doc_id % 7) || '.com.au'
        |    ELSE 'localhost' END AS host,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'site' || (doc_id % 7) || '.co.uk'
        |    WHEN 1 THEN 'example.com'
        |    WHEN 2 THEN 'user' || (doc_id % 7) || '.github.io'
        |    WHEN 3 THEN 'shop' || (doc_id % 7) || '.com.au'
        |    ELSE 'localhost' END AS domain
        |  FROM documents)
        |SELECT domain, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(count(*) AS BIGINT) AS n_urls
        |FROM h GROUP BY domain ORDER BY domain""".stripMargin,

    "q109_hygiene_capstone" ->
      """WITH m AS (SELECT DISTINCT doc_id % 40 AS m FROM documents),
        |u AS (SELECT
        |  CASE WHEN m % 2 = 0
        |    THEN 'http://sub' || (m % 5) || '.farm.co.uk/p/' || m
        |    ELSE 'http://ok' || (m % 5) || '.example.com/p/' || m END AS url,
        |  CASE WHEN m % 2 = 0 THEN 'farm.co.uk' ELSE 'example.com'
        |    END AS domain,
        |  m AS seed FROM m),
        |r AS (SELECT url, domain,
        |  row_number() OVER (PARTITION BY domain ORDER BY seed) AS domain_pos
        |  FROM u)
        |SELECT url, domain, CAST(domain_pos AS BIGINT) AS domain_pos,
        |  domain_pos <= 12 AS kept
        |FROM r ORDER BY url""".stripMargin,

    "q110_hreflang_clusters" ->
      """WITH g AS (SELECT DISTINCT doc_id % 40 AS g FROM documents),
        |l(lang) AS (VALUES ('en'), ('fr'), ('de'))
        |SELECT 'http://' || lang || '.t.test/p/' || g AS url,
        |  'http://de.t.test/p/' || g AS cluster_rep,
        |  CAST(3 AS BIGINT) AS cluster_size
        |FROM g, l ORDER BY url""".stripMargin,

    "q111_language_mix" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 <= 5 THEN 'en'
        |         WHEN doc_id % 10 <= 8 THEN 'de' ELSE 'es' END AS lang
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n FROM d GROUP BY lang),
        |s AS (SELECT lang, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS s_fp
        |      FROM c),
        |t AS (SELECT sum(s_fp) AS t_fp FROM s),
        |w AS (SELECT lang,
        |        CAST(500 AS DOUBLE) * CAST(s_fp AS DOUBLE)
        |          / (CAST(t_fp AS DOUBLE) * CAST(n AS DOUBLE)) AS wt
        |      FROM s, t),
        |j AS (SELECT doc_id, d.lang, wt,
        |        CAST((doc_id * 1103515245 + 12345) % 1000000 AS DOUBLE)
        |          / 1000000.0 AS u
        |      FROM d JOIN w USING (lang)),
        |k AS (SELECT doc_id, lang,
        |        CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END
        |          AS BIGINT) AS copies
        |      FROM j)
        |SELECT doc_id, lang, CAST(t.c AS BIGINT) AS copy
        |FROM k, unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS t(c)
        |WHERE t.c <= copies
        |ORDER BY doc_id, copy""".stripMargin,

    "q112_shuffle_shards" ->
      """WITH p AS (SELECT doc_id, (doc_id * 48271) % 65537 AS h
        |  FROM documents),
        |r AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY h) - 1 AS global_rank FROM p)
        |SELECT doc_id, CAST(global_rank AS BIGINT) AS global_rank,
        |  CAST(global_rank % 8 AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    "q113_line_diff" ->
      """SELECT 'http://r.test/p/' || doc_id AS url,
        |  CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_added,
        |  CAST(1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_removed,
        |  CAST(2 + CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS BIGINT)
        |    AS n_common
        |FROM documents
        |WHERE doc_id % 17 <> 0 AND doc_id % 19 <> 0
        |ORDER BY url""".stripMargin,

    "q114_text_urls" ->
      """WITH t AS (SELECT doc_id,
        |  'read https://cite' || (doc_id % 9) || '.test/a/' || doc_id ||
        |  '. also (http://ref' || (doc_id % 4) || '.test/b?x=' || doc_id ||
        |  '), not a url: httpx://nope, bare https:// end' AS txt
        |  FROM documents),
        |l AS (SELECT doc_id,
        |  list_filter(
        |    list_transform(
        |      regexp_extract_all(txt, 'https?://[A-Za-z0-9._/:?=&#%~+-]+'),
        |      x -> regexp_replace(x, '[.,;:!?]+$', '')),
        |    u -> length(regexp_replace(u, '^https?://', '')) > 0) AS urls
        |  FROM t)
        |SELECT doc_id,
        |  CAST(generate_subscripts(urls, 1) - 1 AS BIGINT) AS pos,
        |  unnest(urls) AS url
        |FROM l ORDER BY doc_id, pos""".stripMargin,

    "q115_adaptive_refresh" ->
      """WITH st AS (
        |  SELECT 'h' || (doc_id % 20) || '.test' AS host,
        |    CASE WHEN doc_id % 11 = 0 THEN 'gone'
        |         WHEN doc_id % 3 = 0 THEN 'modified'
        |         ELSE 'unchanged' END AS status
        |  FROM documents),
        |r AS (SELECT host,
        |    sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS m,
        |    sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS u
        |  FROM st GROUP BY host),
        |ttl AS (SELECT host,
        |    10 - (8 * (CASE WHEN m + u > 0
        |      THEN (1000000 * m) // (m + u) ELSE 0 END)) // 1000000
        |      AS ttl_waves
        |  FROM r),
        |led AS (SELECT doc_id,
        |    'h' || (doc_id % 20) || '.test' AS host,
        |    'http://h' || (doc_id % 20) || '.test/p/' || doc_id AS url,
        |    12 - (doc_id % 8) AS age
        |  FROM documents)
        |SELECT url, CAST(age AS BIGINT) AS age,
        |  CAST(ttl_waves AS BIGINT) AS ttl_waves
        |FROM led JOIN ttl USING (host)
        |WHERE age >= ttl_waves ORDER BY url""".stripMargin,

    "q54_pagerank" ->
      """WITH e AS (SELECT doc_id AS src, (doc_id*7 + j*13) % 211 AS dst
        |           FROM documents, unnest([0, 1, 2]) AS t(j)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS score FROM nodes),
        |c1 AS (SELECT e.dst AS n, sum(s0.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s0 ON s0.n = e.src GROUP BY e.dst),
        |s1 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c1.c, 0) AS score
        |       FROM nodes LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT e.dst AS n, sum(s1.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s1 ON s1.n = e.src GROUP BY e.dst),
        |s2 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c2.c, 0) AS score
        |       FROM nodes LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT e.dst AS n, sum(s2.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s2 ON s2.n = e.src GROUP BY e.dst),
        |s3 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c3.c, 0) AS score
        |       FROM nodes LEFT JOIN c3 USING (n))
        |SELECT n AS node, round(score, 6) AS score FROM s3 ORDER BY node""".stripMargin,

    "q58_authority_schedule" ->
      """WITH e AS (SELECT doc_id AS src, (doc_id*7 + j*13) % 211 AS dst
        |           FROM documents, unnest([0, 1, 2]) AS t(j)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |s0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS score FROM nodes),
        |c1 AS (SELECT e.dst AS n, sum(s0.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s0 ON s0.n = e.src GROUP BY e.dst),
        |s1 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c1.c, 0) AS score
        |       FROM nodes LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT e.dst AS n, sum(s1.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s1 ON s1.n = e.src GROUP BY e.dst),
        |s2 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c2.c, 0) AS score
        |       FROM nodes LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT e.dst AS n, sum(s2.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s2 ON s2.n = e.src GROUP BY e.dst),
        |s3 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c3.c, 0) AS score
        |       FROM nodes LEFT JOIN c3 USING (n)),
        |rnk AS (SELECT n AS target,
        |          CAST(row_number() OVER (ORDER BY round(score, 6) ASC, n ASC)
        |            AS BIGINT) AS priority
        |        FROM s3),
        |f AS (SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |             'test.' || source AS host_rev, doc_id AS seed_idx,
        |             CAST(coalesce(priority, 0) AS BIGINT) AS priority,
        |             (1048575 - least(CAST(coalesce(priority, 0) AS BIGINT), 1048575))
        |               * 1099511627776 + doc_id AS okey
        |      FROM documents LEFT JOIN rnk ON doc_id = target),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host_rev ORDER BY okey)
        |        AS BIGINT) AS host_pos FROM f)
        |SELECT CAST(row_number() OVER (ORDER BY (host_pos - 1) * 3, host_rev, okey)
        |         AS BIGINT) AS fetch_seq,
        |       (host_pos - 1) * 3 AS slot, host_rev, canonical_url, seed_idx,
        |       priority, host_pos
        |FROM r ORDER BY fetch_seq""".stripMargin,

    "q64_page_directives" ->
      """SELECT doc_id,
        |  doc_id % 4 = 0 AS noindex,
        |  doc_id % 4 IN (0, 1) AS nofollow,
        |  CASE WHEN doc_id % 4 = 2 THEN 'http://c.test/' || doc_id
        |       ELSE '' END AS canonical
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q69_cuckoo_unseen" ->
      """SELECT doc_id AS seed_idx, 'http://' || source || '.test/docs/' || doc_id AS canonical_url
        |FROM documents WHERE doc_id % 3 <> 0 ORDER BY seed_idx""".stripMargin,

    "q82_link_density" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN 5 ELSE 2 END AS n_links,
        |    CASE WHEN doc_id % 4 = 0 THEN 23 ELSE 8 END AS anchor_chars,
        |    len(regexp_replace(text, '\s', '', 'g')) AS text_chars
        |  FROM documents)
        |SELECT doc_id, CAST(n_links AS BIGINT) AS n_links,
        |  CAST(anchor_chars AS BIGINT) AS anchor_chars,
        |  CAST(text_chars AS BIGINT) AS text_chars,
        |  CAST(anchor_chars * 1000000 // greatest(text_chars + anchor_chars, 1)
        |    AS BIGINT) AS link_density_ppm
        |FROM d ORDER BY doc_id""".stripMargin,

    "q83_canonical_collapse" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id // 4 AS g,
        |    'http://h' || ((doc_id // 4) % 20) || '.test/a/' || doc_id AS url
        |  FROM documents),
        |t AS (
        |  SELECT url,
        |    CASE
        |      WHEN doc_id % 4 = 0 AND g % 5 = 0
        |        THEN 'http://h' || (g % 20) || '.test/a/missing' || g
        |      WHEN doc_id % 4 = 1 OR doc_id % 4 = 2
        |        THEN 'http://h' || (g % 20) || '.test/a/' || (g * 4)
        |      ELSE url END AS canonical_url
        |  FROM p)
        |SELECT canonical_url,
        |  coalesce(max(CASE WHEN url = canonical_url THEN url END), min(url)) AS rep_url,
        |  count(*) AS members,
        |  coalesce(max(CASE WHEN url = canonical_url THEN 1 ELSE 0 END), 0) = 1
        |    AS target_fetched
        |FROM t GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    "q84_sitemap_refresh" ->
      """WITH a AS (
        |  SELECT 'http://s.test/a/' || doc_id AS url,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN CAST('2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |             AS TIMESTAMP)
        |      ELSE CAST('2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |             || ' 12:30:45' AS TIMESTAMP) END AS lastmod,
        |    doc_id % 3 AS m
        |  FROM documents),
        |b AS (
        |  SELECT 'http://s.test/b/' || doc_id AS url,
        |    CAST(NULL AS TIMESTAMP) AS lastmod, doc_id
        |  FROM documents),
        |u AS (
        |  SELECT url, lastmod,
        |    CASE WHEN m = 0 THEN CAST('2024-01-15 00:00:00' AS TIMESTAMP)
        |         WHEN m = 1 THEN CAST('2024-02-01 00:00:00' AS TIMESTAMP)
        |    END AS fetched_at
        |  FROM a
        |  UNION ALL
        |  SELECT url, lastmod,
        |    CASE WHEN doc_id % 2 = 0 THEN CAST('2024-01-10 00:00:00' AS TIMESTAMP)
        |    END AS fetched_at
        |  FROM b)
        |SELECT url, lastmod, fetched_at,
        |  CASE WHEN fetched_at IS NULL THEN 'never_fetched'
        |       ELSE 'modified' END AS reason
        |FROM u
        |WHERE fetched_at IS NULL OR (lastmod IS NOT NULL AND lastmod > fetched_at)
        |ORDER BY url""".stripMargin,

    "q85_redirects" ->
      """WITH RECURSIVE ln(i, l) AS (
        |  SELECT * FROM (VALUES (0,1),(1,2),(2,3),(3,5),(4,8),(5,9),(6,12))),
        |ce AS (
        |  SELECT 'http://r.test/c' || i || '/n' || j AS src,
        |    CASE WHEN j = l - 1 THEN 'http://t.test/f' || i
        |         ELSE 'http://r.test/c' || i || '/n' || (j + 1) END AS dst
        |  FROM ln, unnest(range(12)) AS t(j) WHERE j < l),
        |le AS (
        |  SELECT 'http://r.test/loop/n' || j AS src,
        |    'http://r.test/loop/n' || ((j + 1) % 3) AS dst
        |  FROM unnest(range(3)) AS t(j)),
        |edges AS (SELECT * FROM ce UNION ALL SELECT * FROM le),
        |urls AS (
        |  SELECT src AS url FROM edges UNION SELECT dst FROM edges
        |  UNION SELECT 'http://plain.test/p' || k FROM unnest(range(5)) AS t(k)),
        |walk(url, cur, hops) AS (
        |  SELECT url, url, 0 FROM urls
        |  UNION ALL
        |  SELECT w.url, e.dst, w.hops + 1
        |  FROM walk w JOIN edges e ON w.cur = e.src
        |  WHERE w.hops < 8),
        |last AS (
        |  SELECT url, cur, hops FROM (
        |    SELECT *, row_number() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
        |    FROM walk) WHERE rn = 1),
        |srcs AS (SELECT DISTINCT src FROM edges)
        |SELECT l.url,
        |  CASE WHEN s.src IS NULL THEN l.cur END AS final_url,
        |  CAST(CASE WHEN s.src IS NULL THEN l.hops END AS BIGINT) AS hops,
        |  s.src IS NULL AS resolved
        |FROM last l LEFT JOIN srcs s ON l.cur = s.src
        |ORDER BY url""".stripMargin,

    "q86_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000 AS id,
        |    array_to_string(
        |      list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:25], ' ')
        |  FROM documents WHERE doc_id % 7 = 0),
        |tok AS (
        |  SELECT id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |g AS (
        |  SELECT id, unnest(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
        |           i -> array_to_string(t[i+1:i+8], ' '))) END) AS gram
        |  FROM tok),
        |tot AS (SELECT id, count(*) AS n_total FROM g GROUP BY id),
        |inter AS (
        |  SELECT a.id AS contained_id, b.id AS container_id, count(*) AS n_inter
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.id <> b.id
        |  GROUP BY 1, 2)
        |SELECT i.contained_id, i.container_id,
        |  CAST(i.n_inter AS BIGINT) AS n_inter,
        |  CAST(t.n_total AS BIGINT) AS n_total,
        |  CAST((1000000 * i.n_inter) // t.n_total AS BIGINT) AS ppm
        |FROM inter i JOIN tot t ON t.id = i.contained_id
        |WHERE (1000000 * i.n_inter) // t.n_total >= 900000
        |ORDER BY contained_id, container_id""".stripMargin,

    "q87_image_dhash" ->
      """WITH a AS (
        |  SELECT doc_id AS aid, doc_id // 2 AS b, doc_id % 2 AS odd,
        |    18 + ((doc_id // 2) % 3) * 9 AS w
        |  FROM documents WHERE doc_id < 200),
        |px AS (
        |  SELECT aid, gy, gx,
        |    (b * 37 + 11 * (gx * (w // 9) + k) * (gx * (w // 9) + k)
        |      + 7 * gy * gy + 5 * (gx * (w // 9) + k) * gy
        |      + 3 * (gx * (w // 9) + k) * b
        |      + CASE WHEN odd = 1 AND gx = 0 THEN 60 ELSE 0 END) % 256 AS v
        |  FROM a, unnest(range(8)) s(gy), unnest(range(9)) t(gx),
        |    unnest(range(4)) u(k)
        |  WHERE k < w // 9),
        |cells AS (
        |  SELECT aid, gy, gx, sum(v) // count(*) AS c
        |  FROM px GROUP BY aid, gy, gx),
        |bits AS (
        |  SELECT l.aid,
        |    sum(CASE WHEN l.c > r.c AND l.gy * 8 + l.gx < 63
        |        THEN 1 << (l.gy * 8 + l.gx) ELSE 0 END) AS lo,
        |    max(CASE WHEN l.gy * 8 + l.gx = 63 AND l.c > r.c THEN 1 ELSE 0 END)
        |      AS hi
        |  FROM cells l JOIN cells r
        |    ON l.aid = r.aid AND l.gy = r.gy AND r.gx = l.gx + 1
        |  GROUP BY l.aid)
        |SELECT x.aid AS id_a, y.aid AS id_b,
        |  CAST(bit_count(xor(x.lo, y.lo)) + abs(x.hi - y.hi) AS BIGINT) AS hamming
        |FROM bits x JOIN bits y ON x.aid < y.aid
        |WHERE bit_count(xor(x.lo, y.lo)) + abs(x.hi - y.hi) <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    "q88_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT doc_id AS src,
        |      (doc_id * doc_id + 3 * doc_id + 11) % 500 AS dst FROM documents
        |    UNION ALL
        |    SELECT doc_id, 7 FROM documents WHERE doc_id % 5 = 0
        |    UNION ALL
        |    SELECT doc_id, (2 * doc_id + 1) % 500 FROM documents
        |    WHERE doc_id % 7 = 0)),
        |n AS (SELECT DISTINCT node FROM
        |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM n),
        |a1r AS (SELECT e.dst AS node, sum(h0.hub) AS raw
        |  FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
        |a1 AS (SELECT n.node,
        |    coalesce((1000000 * r.raw) // (SELECT sum(raw) FROM a1r), 0) AS auth
        |  FROM n LEFT JOIN a1r r USING (node)),
        |h1r AS (SELECT e.src AS node, sum(a1.auth) AS raw
        |  FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
        |h1 AS (SELECT n.node,
        |    coalesce((1000000 * r.raw) // (SELECT sum(raw) FROM h1r), 0) AS hub
        |  FROM n LEFT JOIN h1r r USING (node)),
        |a2r AS (SELECT e.dst AS node, sum(h1.hub) AS raw
        |  FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
        |a2 AS (SELECT n.node,
        |    coalesce((1000000 * r.raw) // (SELECT sum(raw) FROM a2r), 0) AS auth
        |  FROM n LEFT JOIN a2r r USING (node)),
        |h2r AS (SELECT e.src AS node, sum(a2.auth) AS raw
        |  FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src),
        |h2 AS (SELECT n.node,
        |    coalesce((1000000 * r.raw) // (SELECT sum(raw) FROM h2r), 0) AS hub
        |  FROM n LEFT JOIN h2r r USING (node))
        |SELECT n.node, CAST(a2.auth AS BIGINT) AS auth,
        |  CAST(h2.hub AS BIGINT) AS hub
        |FROM n JOIN a2 USING (node) JOIN h2 USING (node)
        |ORDER BY node""".stripMargin,

    "q89_trustrank" ->
      """WITH e AS (SELECT doc_id AS src, (doc_id*7 + j*13) % 211 AS dst
        |           FROM documents, unnest([0, 1, 2]) AS t(j)),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |nodes AS (SELECT src AS n FROM e UNION SELECT dst FROM e),
        |b AS (SELECT n, CASE WHEN n < 211 AND n % 10 = 0
        |        THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS base FROM nodes),
        |s0 AS (SELECT n, base AS score FROM b),
        |c1 AS (SELECT e.dst AS n, sum(s0.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s0 ON s0.n = e.src GROUP BY e.dst),
        |s1 AS (SELECT b.n, 0.15 * b.base + 0.85 * coalesce(c1.c, 0) AS score
        |       FROM b LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT e.dst AS n, sum(s1.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s1 ON s1.n = e.src GROUP BY e.dst),
        |s2 AS (SELECT b.n, 0.15 * b.base + 0.85 * coalesce(c2.c, 0) AS score
        |       FROM b LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT e.dst AS n, sum(s2.score / deg.outdeg) AS c
        |       FROM e JOIN deg USING (src) JOIN s2 ON s2.n = e.src GROUP BY e.dst),
        |s3 AS (SELECT b.n, 0.15 * b.base + 0.85 * coalesce(c3.c, 0) AS score
        |       FROM b LEFT JOIN c3 USING (n))
        |SELECT n AS node, round(score, 6) AS score FROM s3 ORDER BY node""".stripMargin,

    "q90_revisit_rates" ->
      """WITH st AS (
        |  SELECT 'h' || (doc_id % 20) || '.test' AS host,
        |    CASE WHEN doc_id % 11 = 0 THEN 'gone'
        |         WHEN doc_id % 3 = 0 THEN 'modified'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || (doc_id % 20) || '.test', 'new'
        |  FROM documents WHERE doc_id % 13 = 0),
        |r AS (SELECT host,
        |    sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END) AS n_gone,
        |    sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS n_modified,
        |    sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS n_unchanged
        |  FROM st GROUP BY host)
        |SELECT host, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_gone AS BIGINT) AS n_gone,
        |  CAST(n_modified AS BIGINT) AS n_modified,
        |  CAST(n_unchanged AS BIGINT) AS n_unchanged,
        |  CAST(CASE WHEN n_modified + n_unchanged > 0
        |    THEN (1000000 * n_modified) // (n_modified + n_unchanged)
        |    END AS BIGINT) AS change_ppm
        |FROM r ORDER BY host""".stripMargin,

    "q91_reciprocity" ->
      """WITH he AS (
        |  SELECT 'h' || (doc_id % 20) || '.test' AS s,
        |    'h' || ((doc_id * 7 + 3) % 20) || '.test' AS d FROM documents
        |  UNION ALL
        |  SELECT 'h' || (doc_id % 20) || '.test',
        |    'h' || ((doc_id * 11 + 5) % 20) || '.test'
        |  FROM documents WHERE doc_id % 2 = 0),
        |e AS (SELECT DISTINCT s, d FROM he WHERE s <> d),
        |rev AS (SELECT d AS s, s AS d, true AS r FROM e),
        |j AS (SELECT e.s, CASE WHEN rev.r THEN 1 ELSE 0 END AS rc
        |      FROM e LEFT JOIN rev ON e.s = rev.s AND e.d = rev.d)
        |SELECT s AS host, CAST(count(*) AS BIGINT) AS n_out_partners,
        |  CAST(sum(rc) AS BIGINT) AS n_reciprocal,
        |  CAST((1000000 * sum(rc)) // count(*) AS BIGINT) AS reciprocity_ppm
        |FROM j GROUP BY s ORDER BY host""".stripMargin,

    "q92_bpe_token_counts" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> x <> '')) AS word
        |  FROM documents),
        |occ AS (SELECT doc_id, word, count(*) AS occ FROM w GROUP BY 1, 2),
        |v AS (SELECT DISTINCT word FROM occ),
        |enc AS (
        |  SELECT word,
        |    len(string_split(
        |      replace(replace(replace(replace(
        |        array_to_string(list_append(string_split(word, ''), '</w>'), ' '),
        |        'e s', 'es'), 't h', 'th'), 'es </w>', 'es</w>'), 'a n', 'an'),
        |      ' ')) AS n_sym
        |  FROM v)
        |SELECT occ.doc_id, CAST(sum(occ.occ) AS BIGINT) AS n_words,
        |  CAST(sum(occ.occ * enc.n_sym) AS BIGINT) AS n_tokens
        |FROM occ JOIN enc USING (word)
        |GROUP BY occ.doc_id ORDER BY doc_id""".stripMargin,

    "q93_mirror_hosts" ->
      """WITH hd AS (
        |  SELECT DISTINCT 'h' || (doc_id % 20) || '.test' AS host,
        |    CASE WHEN doc_id % 7 = 0 THEN 'parked'
        |         ELSE 'v' || (doc_id % 10) || '_' || (doc_id // 20) END AS body
        |  FROM documents),
        |hot AS (SELECT body FROM hd GROUP BY body HAVING count(*) > 5),
        |kept AS (SELECT * FROM hd
        |         WHERE body NOT IN (SELECT body FROM hot)),
        |sizes AS (SELECT host, count(*) AS n FROM kept GROUP BY host),
        |p AS (SELECT a.host AS host_a, b.host AS host_b,
        |        count(*) AS shared
        |      FROM kept a JOIN kept b
        |        ON a.body = b.body AND a.host < b.host
        |      GROUP BY 1, 2)
        |SELECT host_a, host_b, CAST(shared AS BIGINT) AS shared,
        |  CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
        |  CAST((1000000 * shared) // least(sa.n, sb.n) AS BIGINT)
        |    AS containment_ppm
        |FROM p JOIN sizes sa ON p.host_a = sa.host
        |       JOIN sizes sb ON p.host_b = sb.host
        |WHERE shared >= 2
        |  AND (1000000 * shared) // least(sa.n, sb.n) >= 500000
        |ORDER BY host_a, host_b""".stripMargin,

    "q94_sniff_mime" ->
      """SELECT doc_id, CASE doc_id % 12
        |  WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
        |  WHEN 2 THEN 'image/gif' WHEN 3 THEN 'audio/wav'
        |  WHEN 4 THEN 'application/pdf' WHEN 5 THEN 'application/gzip'
        |  WHEN 6 THEN 'text/html' WHEN 7 THEN 'text/xml'
        |  WHEN 8 THEN 'application/warc' WHEN 9 THEN 'text/plain'
        |  ELSE 'application/octet-stream' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q95_page_outline" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN '404 Not Found'
        |    WHEN 1 THEN 'Doc & ' || doc_id
        |    WHEN 2 THEN '' WHEN 3 THEN ''
        |    WHEN 4 THEN 'Fine <page> ' || doc_id
        |    ELSE 'Error: page ' || doc_id || ' not found' END AS title,
        |  CAST(1 AS INTEGER) AS h1,
        |  CAST(doc_id % 4 AS INTEGER) AS h2,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER) AS h3,
        |  CAST(0 AS INTEGER) AS h4, CAST(0 AS INTEGER) AS h5,
        |  CAST(0 AS INTEGER) AS h6
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q96_soft404" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN '404 Not Found'
        |         WHEN doc_id % 6 = 5
        |           THEN 'Error: page ' || doc_id || ' not found'
        |         ELSE 'Doc ' || doc_id END AS title,
        |    CASE WHEN doc_id % 6 IN (0, 5) THEN 'Page not found.'
        |         ELSE 'alpha beta gamma delta epsilon zeta eta theta iota '
        |           || 'kappa lambda mu nu xi omicron pi ' || doc_id
        |         END AS body
        |  FROM documents),
        |n AS (SELECT doc_id, title, body,
        |  len(string_split_regex(trim(body), '\s+')) AS nt FROM t)
        |SELECT doc_id, title, CAST(nt AS BIGINT) AS n_body_tokens,
        |  (contains(lower(title), '404') OR contains(lower(title), 'not found')
        |   OR contains(lower(title), 'no longer exists')
        |   OR contains(lower(title), 'page unavailable')
        |   OR (nt <= 12 AND (contains(lower(body), '404')
        |       OR contains(lower(body), 'not found')
        |       OR contains(lower(body), 'no longer exists')
        |       OR contains(lower(body), 'page unavailable')))) AS soft404
        |FROM n ORDER BY doc_id""".stripMargin,

    "q97_hll_host_cardinality" ->
      """WITH k AS (
        |  SELECT doc_id % 20 AS host,
        |    ((doc_id % 320) * 2654435761 + 101) % 2147483648 * 4194304
        |      + ((doc_id % 320) * 69069 + 7) % 4194304 AS h
        |  FROM documents),
        |r AS (SELECT DISTINCT host, h % 64 AS idx,
        |    CASE WHEN h // 64 = 0 THEN 59
        |         ELSE bit_count(xor(h // 64, (h // 64) - 1)) END AS rho
        |  FROM k),
        |reg AS (SELECT host, idx, max(rho) AS mj FROM r GROUP BY 1, 2),
        |s AS (SELECT host,
        |    CAST(sum(1099511627776 >> mj)
        |      + (64 - count(*)) * 1099511627776 AS BIGINT) AS sumq
        |  FROM reg GROUP BY host),
        |e AS (SELECT host,
        |    (4096 * 1099511627776) // greatest(sumq, 1) AS raw FROM s),
        |x AS (SELECT host,
        |    (raw // 650790) * 461632
        |      + ((raw % 650790) * 461632) // 650790 AS est FROM e),
        |d AS (SELECT doc_id % 20 AS host,
        |    count(DISTINCT doc_id % 320) AS nd FROM documents GROUP BY 1)
        |SELECT d.host, CAST(nd AS BIGINT) AS n_exact,
        |  CAST(est AS BIGINT) AS est_distinct
        |FROM d JOIN x USING (host) ORDER BY host""".stripMargin,

    "q98_dust_rules" ->
      """WITH ids AS (
        |  SELECT doc_id % 10 AS k, doc_id // 10 AS j FROM documents),
        |sid AS (SELECT 'h' || k || '.test' AS host, 'sid' AS param,
        |    count(*) AS support FROM ids GROUP BY 1),
        |v AS (SELECT 'h' || k || '.test' AS host, 'v' AS param,
        |    count(*) AS support FROM ids WHERE j % 2 = 0 GROUP BY 1)
        |SELECT host, param, CAST(support AS BIGINT) AS support
        |FROM (SELECT * FROM sid UNION ALL SELECT * FROM v)
        |WHERE support >= 2 ORDER BY host, param""".stripMargin,

    "q99_seed_distance" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (2 * doc_id + 1) % n AS dst FROM documents, nn
        |  UNION
        |  SELECT doc_id AS src, (3 * doc_id + 7) % n AS dst FROM documents, nn),
        |r AS (
        |  SELECT doc_id AS node, 0 AS depth FROM documents WHERE doc_id % 101 = 0
        |  UNION ALL
        |  SELECT e.dst AS node, r.depth + 1 AS depth
        |  FROM r JOIN e ON e.src = r.node WHERE r.depth < 4)
        |SELECT node, CAST(min(depth) AS INTEGER) AS depth
        |FROM r GROUP BY node ORDER BY node""".stripMargin,

    "q100_c4_clean" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    text || ' end of intro.' || chr(10) ||
        |    'short line.' || chr(10) ||
        |    'this line has no terminal punctuation at all' || chr(10) ||
        |    'please enable JavaScript to view the comments powered here.'
        |      || chr(10) ||
        |    'another good sentence with plenty of words here!' ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) ||
        |      'a third full sentence rounds out the document nicely?'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) ||
        |      'lorem ipsum dolor sit amet consectetur adipiscing elit.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
        |      'function f() { return 0; } and more words to pass rules.'
        |      ELSE '' END AS t
        |  FROM documents),
        |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM c),
        |k AS (SELECT doc_id, t, ls,
        |  list_filter(ls, x ->
        |    right(rtrim(x), 1) IN ('.', '!', '?', chr(34))
        |    AND (CASE WHEN trim(x) = '' THEN 0
        |         ELSE len(string_split_regex(trim(x), '\s+')) END) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS ks
        |  FROM l)
        |SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
        |  CAST(len(ks) AS INTEGER) AS n_kept_lines,
        |  coalesce(array_to_string(ks, chr(10)), '') AS kept_text,
        |  (len(ks) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{')) AS c4_keep
        |FROM k ORDER BY doc_id""".stripMargin,

    "q101_triangles" ->
      """WITH p0 AS (
        |  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR) AS a,
        |         'h' || CAST((doc_id * 3 + 1) % 50 AS VARCHAR) AS b
        |  FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR),
        |         'h' || CAST((doc_id * 7 + 2) % 50 AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT 'h' || CAST(doc_id % 50 AS VARCHAR),
        |         'h' || CAST((doc_id * doc_id + 3) % 50 AS VARCHAR)
        |  FROM documents),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM p0 WHERE a <> b),
        |deg AS (SELECT host, count(*) AS degree FROM (
        |  SELECT u AS host FROM e UNION ALL SELECT v AS host FROM e)
        |  GROUP BY host),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |t AS (SELECT host, count(*) AS triangles FROM (
        |  SELECT a AS host FROM tri UNION ALL SELECT b AS host FROM tri
        |  UNION ALL SELECT c AS host FROM tri) GROUP BY host)
        |SELECT d.host, CAST(degree AS BIGINT) AS degree,
        |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN degree >= 2
        |    THEN (2000000 * coalesce(triangles, 0)) // (degree * (degree - 1))
        |    ELSE 0 END AS BIGINT) AS clustering_ppm
        |FROM deg d LEFT JOIN t USING (host) ORDER BY host""".stripMargin,

    "q102_focus_priorities" ->
      """WITH q(qid, qtext) AS (VALUES (0, 'spark shuffle tuning')),
        |anch AS (SELECT
        |  'http://tgt.test/t/' || CAST(doc_id % 40 AS VARCHAR) AS id,
        |  (CASE WHEN doc_id % 5 = 0 THEN 'spark'
        |        ELSE 'misc' || CAST(doc_id % 4 AS VARCHAR) END) || ' ' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'shuffle'
        |        ELSE 'word' || CAST(doc_id % 6 AS VARCHAR) END) || ' ' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN 'tuning'
        |        ELSE 'tail' || CAST(doc_id % 5 AS VARCHAR) END) AS anchor
        |  FROM documents),
        |toks AS (SELECT id, flatten(list(string_split(anchor, ' '))) AS tk
        |  FROM anch GROUP BY id),
        |dl AS (SELECT id, len(tk) AS dl FROM toks),
        |post AS (SELECT id, term, count(*) AS tf
        |  FROM (SELECT id, unnest(tk) AS term FROM toks) GROUP BY id, term),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        |qt AS (SELECT qid,
        |  unnest(list_distinct(list_filter(regexp_split_to_array(qtext, '\s+'),
        |    x -> x <> ''))) AS term FROM q),
        |qidf AS (SELECT qid, term,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000 + 0.5)
        |    AS BIGINT) AS idf_fp,
        |  n_docs, total_dl
        |  FROM qt JOIN dfreq USING (term) CROSS JOIN stats),
        |sc AS (SELECT qid, p.id,
        |  CAST(sum(CAST(floor(idf_fp *
        |    (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 *
        |      (d.dl / (CAST(total_dl AS DOUBLE) / n_docs))))) * 1000) AS BIGINT))
        |    AS BIGINT) AS score_fp
        |  FROM post p JOIN qidf USING (term) JOIN dl d ON p.id = d.id
        |  GROUP BY qid, p.id)
        |SELECT CAST(qid AS BIGINT) AS qid, id AS url, score_fp, rank FROM (
        |  SELECT qid, id, score_fp,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, id) AS rank
        |  FROM sc)
        |WHERE rank <= 15 ORDER BY rank""".stripMargin,

    "q103_refresh_due" ->
      """WITH base AS (SELECT doc_id AS id,
        |    'http://st.test/u' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |ent AS (SELECT id, url,
        |  CASE WHEN id % 3 = 0 THEN 1704067200 + (id % 100) * 3600 END AS lm,
        |  CASE (id % 8) WHEN 0 THEN 0 WHEN 1 THEN 3600 WHEN 2 THEN 86400
        |    WHEN 3 THEN 604800 WHEN 4 THEN 2592000 WHEN 5 THEN 31536000
        |    END AS ttl,
        |  CASE WHEN id % 4 <> 0 THEN
        |    CAST(floor(CAST('0.' || (id % 10) AS DOUBLE) * 1000000) AS BIGINT)
        |    ELSE 500000 END AS priority_ppm
        |  FROM base),
        |f AS (SELECT id, 1704067200 + id * 1800 AS ft
        |  FROM base WHERE id % 2 = 0),
        |v AS (SELECT url,
        |  CASE WHEN f.id IS NULL THEN 'never_fetched'
        |       WHEN lm IS NOT NULL AND lm > ft THEN 'modified'
        |       WHEN lm IS NULL AND ttl IS NOT NULL
        |         AND 1709251200 - ft >= ttl THEN 'ttl_expired'
        |  END AS reason, priority_ppm
        |  FROM ent LEFT JOIN f USING (id))
        |SELECT url, reason, priority_ppm FROM v
        |WHERE reason IS NOT NULL ORDER BY url""".stripMargin,

    "q104_pq_adc" ->
      """WITH j AS (SELECT unnest(range(4)) AS j),
        |q AS (SELECT unnest(range(5)) AS qid),
        |sc AS (SELECT qid, doc_id AS id,
        |  CAST(sum(
        |    (qid + 1) * (j * 4 + ((doc_id // (j + 1) + j) % 4) + 1)
        |    + ((doc_id // (j + 1) + j) % 4) * ((doc_id // (j + 1) + j) % 4)
        |      * (j + 1)) AS BIGINT) AS score
        |  FROM documents, j, q GROUP BY qid, doc_id)
        |SELECT qid, rank, id, score FROM (
        |  SELECT qid, id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
        |  FROM sc)
        |WHERE rank <= 7 ORDER BY qid, rank""".stripMargin,

    "q105_semdedup" ->
      s"""WITH RECURSIVE
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
         |        $q17BucketSqlList AS bks FROM embeddings),
         |n AS (SELECT vec_id, ve, sqrt(list_dot_product(ve, ve)) AS nrm, bks FROM v),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |      FROM n a JOIN n b
         |        ON a.vec_id < b.vec_id AND list_has_any(a.bks, b.bks)
         |      WHERE list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= 0.4),
         |e AS (SELECT id_a AS s, id_b AS d FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(id, l) AS (
         |  SELECT DISTINCT s, s FROM e
         |  UNION
         |  SELECT e.s, r.l FROM e JOIN reach r ON r.id = e.d),
         |lab AS (SELECT id, min(l) AS cluster_id FROM reach GROUP BY id),
         |qual AS (SELECT vec_id AS id, (vec_id * 53) % 1000 AS score
         |         FROM embeddings),
         |best AS (SELECT cluster_id, max(score) AS b
         |         FROM lab JOIN qual USING (id) GROUP BY cluster_id),
         |keep AS (SELECT lab.cluster_id, min(id) AS keep_id
         |         FROM lab JOIN qual USING (id)
         |         JOIN best ON lab.cluster_id = best.cluster_id
         |         WHERE qual.score = best.b GROUP BY lab.cluster_id)
         |SELECT q.id, coalesce(lab.cluster_id, q.id) AS cluster_id,
         |  (lab.cluster_id IS NULL OR keep.keep_id = q.id) AS kept
         |FROM qual q LEFT JOIN lab ON q.id = lab.id
         |  LEFT JOIN keep ON lab.cluster_id = keep.cluster_id
         |ORDER BY q.id""".stripMargin,

    "q106_ivfpq" ->
      """WITH j AS (SELECT unnest(range(4)) AS j),
        |q AS (SELECT unnest(range(5)) AS qid),
        |cand AS (SELECT qid, doc_id AS id FROM documents, q
        |  WHERE doc_id % 10 = qid % 10 OR doc_id % 10 = (qid + 3) % 10),
        |sc AS (SELECT qid, id,
        |  CAST(sum(
        |    (qid + 1) * (j * 4 + ((id // (j + 1) + j) % 4) + 1)
        |    + ((id // (j + 1) + j) % 4) * ((id // (j + 1) + j) % 4)
        |      * (j + 1)) AS BIGINT) AS score
        |  FROM cand, j GROUP BY qid, id)
        |SELECT qid, rank, id, score FROM (
        |  SELECT qid, id, score,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
        |  FROM sc)
        |WHERE rank <= 7 ORDER BY qid, rank""".stripMargin,

    "q81_frontier_capstone" ->
      """WITH u AS (
        |  SELECT 'http://h' || (doc_id % 20) || '.test/article/' || doc_id AS canonical_url,
        |         'h' || (doc_id % 20) || '.test' AS h,
        |         '/article/' || doc_id AS pq,
        |         doc_id AS seed_idx
        |  FROM documents
        |  UNION ALL
        |  SELECT 'http://trap.test/cal/' || doc_id || '/' || (doc_id*7 % 97)
        |           || '/view?sid=deadbeef' || doc_id,
        |         'trap.test',
        |         '/cal/' || doc_id || '/' || (doc_id*7 % 97) || '/view?sid=deadbeef' || doc_id,
        |         doc_id + 10000
        |  FROM documents),
        |tt AS (SELECT canonical_url, h, seed_idx,
        |        h || ' ' || regexp_replace(regexp_replace(pq, '[0-9a-f]{8,}', 'H', 'g'),
        |                                   '[0-9]+', 'N', 'g') AS template
        |      FROM u),
        |kept AS (SELECT * FROM (
        |        SELECT *, row_number() OVER (PARTITION BY template ORDER BY seed_idx) AS tp
        |        FROM tt) WHERE tp <= 30),
        |raw AS (
        |  SELECT 'h' || (doc_id % 20) || '.test' AS sh,
        |         'h' || ((doc_id*7 + j*13) % 20) || '.test' AS dh
        |  FROM documents, unnest([0, 1, 2]) AS t(j)),
        |hg AS (SELECT sh, dh, count(*) AS w FROM raw WHERE sh <> dh GROUP BY sh, dh),
        |deg AS (SELECT sh, sum(w) AS outw FROM hg GROUP BY sh),
        |nodes AS (SELECT sh AS n FROM hg UNION SELECT dh FROM hg),
        |s0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS score FROM nodes),
        |c1 AS (SELECT hg.dh AS n, sum(s0.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s0 ON s0.n = hg.sh GROUP BY hg.dh),
        |s1 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c1.c, 0) AS score
        |       FROM nodes LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT hg.dh AS n, sum(s1.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s1 ON s1.n = hg.sh GROUP BY hg.dh),
        |s2 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c2.c, 0) AS score
        |       FROM nodes LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT hg.dh AS n, sum(s2.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s2 ON s2.n = hg.sh GROUP BY hg.dh),
        |s3 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c3.c, 0) AS score
        |       FROM nodes LEFT JOIN c3 USING (n)),
        |pri AS (SELECT n AS host,
        |         CAST(21 - row_number() OVER (ORDER BY round(score, 6) DESC, n)
        |           AS BIGINT) AS priority
        |        FROM s3),
        |f AS (SELECT kept.canonical_url, kept.seed_idx, kept.h AS host,
        |        pri.priority,
        |        'test.' || split_part(kept.h, '.', 1) AS host_rev,
        |        CAST((1048575 - least(coalesce(pri.priority, 0), 1048575)) * 1099511627776
        |             + kept.seed_idx AS BIGINT) AS order_key
        |      FROM kept LEFT JOIN pri ON pri.host = kept.h),
        |sch AS (SELECT *, CAST(row_number() OVER (PARTITION BY host_rev ORDER BY order_key)
        |              AS BIGINT) AS host_pos FROM f)
        |SELECT host_rev, canonical_url, seed_idx,
        |  coalesce(priority, 0) AS priority, host_pos,
        |  (host_pos - 1) * 3 AS slot
        |FROM sch ORDER BY host_rev, host_pos""".stripMargin,

    "q80_trap_cap" ->
      """WITH u AS (
        |  SELECT 'http://h' || (doc_id % 20) || '.test/article/' || doc_id AS canonical_url,
        |         'h' || (doc_id % 20) || '.test' AS h,
        |         '/article/' || doc_id AS pq,
        |         doc_id AS seed_idx
        |  FROM documents
        |  UNION ALL
        |  SELECT 'http://trap.test/cal/' || doc_id || '/' || (doc_id*7 % 97)
        |           || '/view?sid=deadbeef' || doc_id,
        |         'trap.test',
        |         '/cal/' || doc_id || '/' || (doc_id*7 % 97) || '/view?sid=deadbeef' || doc_id,
        |         doc_id + 10000
        |  FROM documents),
        |t AS (SELECT canonical_url, seed_idx,
        |        h || ' ' || regexp_replace(regexp_replace(pq, '[0-9a-f]{8,}', 'H', 'g'),
        |                                   '[0-9]+', 'N', 'g') AS template
        |      FROM u),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY template ORDER BY seed_idx)
        |                AS BIGINT) AS template_pos
        |      FROM t)
        |SELECT canonical_url, seed_idx, template, template_pos FROM r
        |WHERE template_pos <= 30 ORDER BY template, template_pos""".stripMargin,

    "q79_anchor_text" ->
      """WITH a AS (
        |  SELECT 'http://tgt.test/t/' || (doc_id % 50) AS link,
        |         'go&x ' || (doc_id % 3) AS anchor
        |  FROM documents),
        |c AS (SELECT link, anchor, count(*) AS n FROM a GROUP BY link, anchor),
        |r AS (SELECT link, anchor, n,
        |        row_number() OVER (PARTITION BY link ORDER BY n DESC, anchor) AS rank
        |      FROM c)
        |SELECT link, anchor, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 2 ORDER BY link, rank""".stripMargin,

    "q78_host_rank" ->
      """WITH raw AS (
        |  SELECT 'h' || (doc_id % 37) || '.test' AS sh,
        |         'h' || ((doc_id*7 + j*13) % 37) || '.test' AS dh
        |  FROM documents, unnest([0, 1, 2]) AS t(j)),
        |hg AS (SELECT sh, dh, count(*) AS w FROM raw WHERE sh <> dh GROUP BY sh, dh),
        |deg AS (SELECT sh, sum(w) AS outw FROM hg GROUP BY sh),
        |nodes AS (SELECT sh AS n FROM hg UNION SELECT dh FROM hg),
        |s0 AS (SELECT n, CAST(1.0 AS DOUBLE) AS score FROM nodes),
        |c1 AS (SELECT hg.dh AS n, sum(s0.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s0 ON s0.n = hg.sh GROUP BY hg.dh),
        |s1 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c1.c, 0) AS score
        |       FROM nodes LEFT JOIN c1 USING (n)),
        |c2 AS (SELECT hg.dh AS n, sum(s1.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s1 ON s1.n = hg.sh GROUP BY hg.dh),
        |s2 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c2.c, 0) AS score
        |       FROM nodes LEFT JOIN c2 USING (n)),
        |c3 AS (SELECT hg.dh AS n, sum(s2.score * hg.w / deg.outw) AS c
        |       FROM hg JOIN deg USING (sh) JOIN s2 ON s2.n = hg.sh GROUP BY hg.dh),
        |s3 AS (SELECT nodes.n, 0.15 + 0.85 * coalesce(c3.c, 0) AS score
        |       FROM nodes LEFT JOIN c3 USING (n))
        |SELECT n AS host, round(score, 6) AS score FROM s3 ORDER BY host""".stripMargin,

    "q77_temperature_mix" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 <= 5 THEN 'm0'
        |         WHEN doc_id % 10 <= 8 THEN 'm1' ELSE 'm2' END AS mix_src
        |  FROM documents),
        |c AS (SELECT mix_src, count(*) AS n FROM d GROUP BY mix_src),
        |s AS (SELECT mix_src, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS s_fp
        |      FROM c),
        |t AS (SELECT sum(s_fp) AS t_fp FROM s),
        |w AS (SELECT mix_src,
        |        CAST(500 AS DOUBLE) * CAST(s_fp AS DOUBLE)
        |          / (CAST(t_fp AS DOUBLE) * CAST(n AS DOUBLE)) AS wt
        |      FROM s, t),
        |j AS (SELECT doc_id, d.mix_src, wt,
        |        CAST((doc_id * 1103515245 + 12345) % 1000000 AS DOUBLE) / 1000000.0 AS u
        |      FROM d JOIN w USING (mix_src)),
        |k AS (SELECT doc_id, mix_src,
        |        CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS BIGINT)
        |          AS copies
        |      FROM j)
        |-- fixture copy ceiling: the max temperature weight here is ~1.93
        |-- (tail source), so copies <= 2; the [1..8] list is headroom, and
        |-- any fixture change pushing a weight past 8 must widen it (the
        |-- engine side explodes sequence(1, copies) with no cap)
        |SELECT doc_id, mix_src, CAST(t.c AS BIGINT) AS copy
        |FROM k, unnest([1, 2, 3, 4, 5, 6, 7, 8]) AS t(c)
        |WHERE t.c <= copies
        |ORDER BY doc_id, copy""".stripMargin,

    "q76_unsee" ->
      """WITH led AS (
        |  SELECT doc_id AS url_hash,
        |         'http://h' || (doc_id % 20) || '.test/d/' || doc_id AS canonical_url,
        |         doc_id % 9 AS wave FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'http://h' || (doc_id % 20) || '.test/d/' || doc_id,
        |         doc_id % 5 + 5 FROM documents WHERE doc_id % 3 = 0),
        |ts AS (
        |  SELECT doc_id AS url_hash, 4 AS t_wave FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id, 7 FROM documents WHERE doc_id % 6 = 0),
        |tmax AS (SELECT url_hash, max(t_wave) AS t_wave FROM ts GROUP BY url_hash)
        |SELECT l.url_hash, l.canonical_url, CAST(l.wave AS BIGINT) AS wave
        |FROM led l LEFT JOIN tmax t USING (url_hash)
        |WHERE t.t_wave IS NULL OR l.wave > t.t_wave
        |ORDER BY url_hash, wave""".stripMargin,

    "q75_lm_buckets" ->
      """WITH rt AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (SELECT count(DISTINCT tok) AS vsz
        |      FROM (SELECT unnest(t) AS tok FROM rt)),
        |bc AS (SELECT gram, count(*) AS c12 FROM (
        |    SELECT unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(0, len(t) - 1),
        |             i -> array_to_string(t[i+1:i+2], ' ')) END) AS gram
        |    FROM rt) GROUP BY gram),
        |cc AS (SELECT ctx, count(*) AS c1 FROM (
        |    SELECT unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(0, len(t) - 1), i -> t[i+1]) END) AS ctx
        |    FROM rt) GROUP BY ctx),
        |dt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |p0 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 2
        |      THEN CAST([] AS STRUCT(ctx VARCHAR, gram VARCHAR)[])
        |      ELSE list_transform(range(0, len(t) - 1),
        |             i -> {'ctx': t[i+1], 'gram': array_to_string(t[i+1:i+2], ' ')}) END) AS u
        |  FROM dt),
        |pairs AS (SELECT doc_id, u.ctx AS ctx, u.gram AS gram FROM p0),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(coalesce(bc.c12, 0) + 1) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(coalesce(cc.c1, 0) + v.vsz) * 1000000 + 0.5) AS BIGINT) AS lp_fp
        |  FROM pairs LEFT JOIN bc USING (gram) LEFT JOIN cc USING (ctx) CROSS JOIN v),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_fp) AS ll_fp
        |        FROM lp GROUP BY doc_id),
        |scores AS (
        |  SELECT d.doc_id, CAST(coalesce((-a.ll_fp) // a.n_bigrams, 0) AS BIGINT) AS nll
        |  FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)),
        |hist AS (SELECT nll, count(*) AS c FROM scores GROUP BY nll),
        |cum AS (SELECT nll, c, sum(c) OVER (ORDER BY nll) AS cumc FROM hist),
        |n AS (SELECT count(*) AS total FROM scores),
        |cut AS (SELECT
        |    (SELECT min(nll) FROM cum, n
        |      WHERE cumc >= greatest(1, CAST(ceil(0.3 * total) AS BIGINT))) AS head_max,
        |    (SELECT min(nll) FROM cum, n
        |      WHERE cumc >= greatest(1, CAST(ceil(0.6 * total) AS BIGINT))) AS mid_max),
        |b AS (SELECT s.doc_id, s.nll,
        |    CASE WHEN s.nll <= cut.head_max THEN 'head'
        |         WHEN s.nll <= cut.mid_max THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM scores s CROSS JOIN cut)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(nll) AS nll_lo, max(nll) AS nll_hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q74_bpe_pairs" ->
      """WITH w AS (
        |  SELECT tok AS word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |    FROM documents) GROUP BY tok),
        |s0 AS (SELECT word, freq,
        |         array_to_string(list_append(string_split(word, ''), '</w>'), ' ') AS j
        |       FROM w),
        |s AS (SELECT word, freq, string_split(replace(j, 'e s', 'es'), ' ') AS syms
        |      FROM s0),
        |p0 AS (SELECT freq, unnest(list_transform(range(0, len(syms) - 1),
        |         i -> {'a': syms[i+1], 'b': syms[i+2]})) AS p
        |       FROM s)
        |SELECT p.a AS a, p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p0 GROUP BY 1, 2 ORDER BY a, b""".stripMargin,

    "q73_boilerplate" ->
      """WITH c AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 2 = 0
        |            THEN ' subscribe to our newsletter for updates today' ELSE '' END
        |    || ' copyright ' || source || ' all rights reserved' AS text
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM c),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 4),
        |           i -> array_to_string(t[i+1:i+5], ' '))) END) AS gram
        |  FROM tk),
        |hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 5),
        |pd AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |h AS (SELECT g.doc_id, count(*) AS n_hot FROM g JOIN hot USING (gram)
        |      GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hot, 0) AS BIGINT) AS n_hot,
        |  CAST(coalesce((1000000 * h.n_hot) // pd.n_grams, 0) AS BIGINT) AS hot_ppm
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |  LEFT JOIN pd USING (doc_id) LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q72_heavy_hitters" ->
      """WITH k AS (
        |  SELECT CASE WHEN doc_id % 10 < 3 THEN doc_id % 7
        |              WHEN doc_id % 50 = 9 THEN 7
        |              ELSE doc_id + 1000 END AS key
        |  FROM documents)
        |SELECT key, count(*) AS count FROM k
        |GROUP BY key HAVING count(*) >= 10 ORDER BY key""".stripMargin,

    "q71_keep_best" ->
      """WITH RECURSIVE
        |c AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' extra tail words appended here'
        |  FROM documents WHERE doc_id % 7 = 0),
        |sh AS (SELECT id,
        |  list_distinct(list_transform(
        |    range(len(regexp_split_to_array(trim(text), '\s+')) - 2),
        |    i -> regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+2] || ' ' ||
        |         regexp_split_to_array(trim(text), '\s+')[i+3])) AS sset
        |FROM c),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        len(list_intersect(a.sset, b.sset)) AS inter,
        |        len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset)) AS uni
        |      FROM sh a JOIN sh b ON a.id < b.id),
        |e AS (SELECT id_a AS u, id_b AS v FROM p WHERE inter / uni >= 0.7
        |      UNION
        |      SELECT id_b, id_a FROM p WHERE inter / uni >= 0.7),
        |reach(id, l) AS (
        |  SELECT DISTINCT u, u FROM e
        |  UNION
        |  SELECT e.u, r.l FROM e JOIN reach r ON r.id = e.v),
        |lab AS (SELECT id, min(l) AS cluster_id FROM reach GROUP BY id),
        |qual AS (SELECT id, (id * 37) % 1000 AS score FROM c),
        |best AS (SELECT cluster_id, max(score) AS b
        |         FROM lab JOIN qual USING (id) GROUP BY cluster_id),
        |keep AS (SELECT lab.cluster_id, min(id) AS keep_id
        |         FROM lab JOIN qual USING (id) JOIN best ON lab.cluster_id = best.cluster_id
        |         WHERE qual.score = best.b GROUP BY lab.cluster_id)
        |SELECT c.id, CAST(len(c.text) AS BIGINT) AS n_chars
        |FROM c LEFT JOIN lab ON c.id = lab.id
        |  LEFT JOIN keep ON lab.cluster_id = keep.cluster_id
        |WHERE lab.cluster_id IS NULL OR keep.keep_id = c.id
        |ORDER BY c.id""".stripMargin,

    "q70_lm_quality" ->
      """WITH rt AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 3 = 0),
        |v AS (SELECT count(DISTINCT tok) AS vsz
        |      FROM (SELECT unnest(t) AS tok FROM rt)),
        |bc AS (SELECT gram, count(*) AS c12 FROM (
        |    SELECT unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(0, len(t) - 1),
        |             i -> array_to_string(t[i+1:i+2], ' ')) END) AS gram
        |    FROM rt) GROUP BY gram),
        |cc AS (SELECT ctx, count(*) AS c1 FROM (
        |    SELECT unnest(CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(0, len(t) - 1), i -> t[i+1]) END) AS ctx
        |    FROM rt) GROUP BY ctx),
        |dt AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |p0 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 2
        |      THEN CAST([] AS STRUCT(ctx VARCHAR, gram VARCHAR)[])
        |      ELSE list_transform(range(0, len(t) - 1),
        |             i -> {'ctx': t[i+1], 'gram': array_to_string(t[i+1:i+2], ' ')}) END) AS u
        |  FROM dt),
        |pairs AS (SELECT doc_id, u.ctx AS ctx, u.gram AS gram FROM p0),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(coalesce(bc.c12, 0) + 1) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(coalesce(cc.c1, 0) + v.vsz) * 1000000 + 0.5) AS BIGINT) AS lp_fp
        |  FROM pairs LEFT JOIN bc USING (gram) LEFT JOIN cc USING (ctx) CROSS JOIN v),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp_fp) AS ll_fp
        |        FROM lp GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(a.ll_fp, 0) AS BIGINT) AS ll_fp,
        |  CAST(coalesce((-a.ll_fp) // a.n_bigrams, 0) AS BIGINT) AS nll_tok_fp
        |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q68_bm25_topk" ->
      """WITH q(qid, qtext) AS (VALUES
        |    (0, 'hash join strategyzzz'), (1, 'fast vector scan'),
        |    (2, 'window merge sort'), (3, 'stream batch data'),
        |    (4, 'the slow customer the')),
        |toks AS (SELECT doc_id AS id,
        |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |dl AS (SELECT id, len(tk) AS dl FROM toks),
        |post AS (SELECT id, term, count(*) AS tf
        |  FROM (SELECT id, unnest(tk) AS term FROM toks) GROUP BY id, term),
        |stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
        |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        |qt AS (SELECT qid,
        |  unnest(list_distinct(list_filter(regexp_split_to_array(qtext, '\s+'),
        |    x -> x <> ''))) AS term FROM q),
        |qidf AS (SELECT qid, term,
        |  CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000 + 0.5)
        |    AS BIGINT) AS idf_fp,
        |  n_docs, total_dl
        |  FROM qt JOIN dfreq USING (term) CROSS JOIN stats),
        |sc AS (SELECT qid, p.id,
        |  CAST(sum(CAST(floor(idf_fp *
        |    (tf * (1.2 + 1) / (tf + 1.2 * ((1 - 0.75) + 0.75 *
        |      (d.dl / (CAST(total_dl AS DOUBLE) / n_docs))))) * 1000) AS BIGINT))
        |    AS BIGINT) AS score_fp
        |  FROM post p JOIN qidf USING (term) JOIN dl d ON p.id = d.id
        |  GROUP BY qid, p.id)
        |SELECT CAST(qid AS BIGINT) AS qid, id, score_fp, rank FROM (
        |  SELECT qid, id, score_fp,
        |    row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "q67_sig_ledger" ->
      """WITH bands AS (SELECT unnest(range(8)) AS b),
        |ledger AS (
        |  SELECT doc_id AS id, b AS band, (doc_id % 1000) * 8 + b AS bucket
        |  FROM documents, bands),
        |newb AS (
        |  SELECT doc_id + 100000 AS id, b AS band,
        |    CASE WHEN b < 4 THEN (doc_id % 1000) * 8 + b
        |         ELSE (doc_id % 1000 + 500) * 8 + b END AS bucket
        |  FROM documents, bands WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS id, b AS band,
        |    (doc_id % 1000 + 600) * 8 + b AS bucket
        |  FROM documents, bands WHERE doc_id % 13 = 0),
        |reps AS (SELECT band, bucket, min(id) AS lid
        |  FROM ledger GROUP BY band, bucket),
        |hits AS (SELECT n.id, count(*) AS nh, min(r.lid) AS dup_of
        |  FROM newb n JOIN reps r ON n.band = r.band AND n.bucket = r.bucket
        |  GROUP BY n.id)
        |SELECT i.id, CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_bands,
        |  CAST(coalesce(h.dup_of, -1) AS BIGINT) AS dup_of,
        |  CAST(h.id IS NULL AS BIGINT) AS novel
        |FROM (SELECT DISTINCT id FROM newb) i LEFT JOIN hits h ON i.id = h.id
        |ORDER BY i.id""".stripMargin,

    "q66_host_quality" ->
      """WITH f AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 7 = 0 THEN 'a b c'
        |       WHEN doc_id % 11 = 0 THEN 'verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword'
        |       ELSE text ||
        |         CASE WHEN doc_id % 5 = 0 THEN repeat(' spam ham', 30) ELSE '' END ||
        |         CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'xx yy' || chr(10) || 'xx yy' ||
        |              chr(10) || 'xx yy' || chr(10) || 'xx yy' ELSE '' END
        |  END AS t FROM documents),
        |sig AS (SELECT doc_id, source, t,
        |  len(regexp_split_to_array(trim(t), '\s+')) AS ntok,
        |  len(regexp_replace(trim(t), '\s+', '', 'g')) AS nchar,
        |  list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
        |    x -> len(x) > 0) AS ls,
        |  list_transform(range(len(regexp_split_to_array(trim(t), '\s+')) - 1),
        |    i -> regexp_split_to_array(trim(t), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(t), '\s+')[i+2]) AS bg
        |  FROM f),
        |m AS (SELECT doc_id, source, ntok,
        |  nchar * 1.0 / ntok AS mwl,
        |  (len(ls) - len(list_distinct(ls))) * 1.0 / len(ls) AS dlf,
        |  CASE WHEN len(bg) = 0 THEN 0.0
        |       ELSE CAST(list_max(list_transform(list_distinct(bg),
        |              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg) END AS tbf
        |  FROM sig),
        |r AS (SELECT doc_id, source, ntok,
        |  CAST(NOT (ntok < 10 OR ntok > 100000 OR mwl < 2.0 OR mwl > 12.0
        |            OR dlf > 0.30 OR tbf > 0.18) AS BIGINT) AS passed
        |  FROM m),
        |hq AS (SELECT source AS host, count(*) AS n_docs, sum(passed) AS n_passed,
        |  sum(ntok) AS host_tokens,
        |  (sum(passed) * 1000000) // count(*) AS pass_ppm
        |  FROM r GROUP BY source)
        |SELECT host, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_passed AS BIGINT) AS n_passed,
        |  CAST(host_tokens AS BIGINT) AS host_tokens,
        |  CAST(pass_ppm AS BIGINT) AS pass_ppm,
        |  CAST(n_docs < 5 OR pass_ppm >= 400000 AS BIGINT) AS host_ok,
        |  CAST(CASE WHEN n_docs < 5 OR pass_ppm >= 400000
        |       THEN n_passed ELSE 0 END AS BIGINT) AS n_survivors
        |FROM hq ORDER BY host""".stripMargin,

    "q65_line_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    'shared header boilerplate line' || chr(10) || text || chr(10) ||
        |    'footer for ' || source || chr(10) ||
        |    'pair line ' || (doc_id // 2) || chr(10) ||
        |    'unique tail ' || doc_id AS text
        |  FROM documents
        |), lns AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
        |  FROM corpus
        |), hot AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS df FROM lns GROUP BY line)
        |  WHERE df >= 20
        |), kept AS (
        |  SELECT doc_id, line, idx FROM lns
        |  WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.line = lns.line)
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY idx) AS text_clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT c.doc_id,
        |  CAST(len(string_split(c.text, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.text_clean, '') AS text_clean
        |FROM corpus c LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q63_round5_capstone" ->
      """WITH scr AS (
        |  SELECT doc_id, source,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text || ' contact u' || doc_id || '@ex.org',
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |      '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text
        |  FROM documents),
        |etok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |           x -> x <> '')[1:15] AS t
        |  FROM documents WHERE doc_id % 10 = 3),
        |eg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
        |           i -> array_to_string(t[i+1:i+8], ' '))) END) AS gram
        |  FROM etok),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM scr),
        |cg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
        |           i -> array_to_string(t[i+1:i+8], ' '))) END) AS gram
        |  FROM ctok),
        |kill AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (gram)),
        |clean AS (SELECT * FROM scr
        |          WHERE doc_id NOT IN (SELECT doc_id FROM kill)),
        |w AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN source IN ('src0', 'src1') THEN 2.0
        |         WHEN source = 'src2' THEN 0.5 ELSE 1.0 END AS wt,
        |    CAST((doc_id * 1103515245 + 12345) % 1000000 AS DOUBLE) / 1000000.0 AS u
        |  FROM clean),
        |c2 AS (
        |  SELECT doc_id, text,
        |    CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS BIGINT)
        |      AS copies
        |  FROM w),
        |m AS (
        |  SELECT doc_id * 4 + t2.c AS ord,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM c2, unnest([1, 2]) AS t2(c) WHERE t2.c <= copies),
        |cum AS (
        |  SELECT ord, tokens, coalesce(sum(tokens) OVER (ORDER BY ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS e FROM m),
        |p AS (
        |  SELECT ord, tokens, e // 256 AS shard,
        |    CASE WHEN tokens > 0 THEN (e + tokens - 1) // 256 - e // 256 + 1
        |         ELSE 1 END AS spanned FROM cum)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tokens) AS BIGINT) AS tokens,
        |  CAST(max(spanned) AS BIGINT) AS max_span
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    "q61_url_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    'http://' || (CASE WHEN doc_id % 9 = 0 THEN 'ads.' ELSE '' END)
        |      || source || '.test/docs/' || doc_id
        |      || (CASE WHEN doc_id % 7 = 0 THEN '/casino-night' ELSE '' END) AS url,
        |    (CASE WHEN doc_id % 9 = 0 THEN 'ads.' ELSE '' END) || source || '.test' AS host,
        |    '/docs/' || doc_id
        |      || (CASE WHEN doc_id % 7 = 0 THEN '/casino-night' ELSE '' END) AS path
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, url,
        |    list_has_any(
        |      list_transform(range(0, len(string_split(host, '.'))),
        |        i -> array_to_string(string_split(host, '.')[i+1:], '.')),
        |      ['src3.test', 'src7.test', 'ads.src1.test']) AS hostblocked,
        |    contains(lower(path), 'casino') AS wordhit
        |  FROM f)
        |SELECT doc_id, url, NOT (hostblocked OR wordhit) AS url_ok,
        |  CASE WHEN hostblocked AND wordhit THEN 'bad_path_word,blocked_host'
        |       WHEN hostblocked THEN 'blocked_host'
        |       WHEN wordhit THEN 'bad_path_word'
        |       ELSE '' END AS reasons
        |FROM g ORDER BY doc_id""".stripMargin,

    "q62_nfc_normalize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    nfc_normalize(text || ' caf' || 'e' || chr(769)
        |      || ' e' || chr(769) || 'end') AS text_nfc
        |  FROM documents)
        |SELECT doc_id, text_nfc, CAST(length(text_nfc) AS BIGINT) AS n_chars
        |FROM p ORDER BY doc_id""".stripMargin,

    "q60_span_cut" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 5 = 0),
        |tok AS (
        |  SELECT id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |w0 AS (
        |  SELECT id, unnest(CASE WHEN len(t) < 5
        |      THEN CAST([] AS STRUCT(p BIGINT, g VARCHAR)[])
        |      ELSE list_transform(range(0, len(t) - 4),
        |             i -> {'p': i, 'g': array_to_string(t[i+1:i+5], ' ')}) END) AS u
        |  FROM tok),
        |w AS (SELECT id, CAST(u.p AS BIGINT) AS p, u.g AS g FROM w0),
        |dupg AS (SELECT g FROM w GROUP BY g HAVING count(*) >= 2),
        |ranked AS (
        |  SELECT w.id, w.p,
        |    row_number() OVER (PARTITION BY w.g ORDER BY w.id, w.p) AS rn
        |  FROM w JOIN dupg USING (g)),
        |d AS (SELECT id, p FROM ranked WHERE rn > 1),
        |s AS (SELECT id, p, CASE WHEN p > coalesce(max(p + 4) OVER
        |        (PARTITION BY id ORDER BY p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS brk FROM d),
        |i AS (SELECT id, p, sum(brk) OVER (PARTITION BY id ORDER BY p) AS island
        |      FROM s),
        |spans AS (SELECT id, min(p) AS ss, max(p) + 4 AS se FROM i GROUP BY id, island),
        |sp AS (SELECT id, list({'s': ss, 'e': se}) AS spans FROM spans GROUP BY id),
        |c AS (SELECT tok.id, t, sp.spans FROM tok LEFT JOIN sp USING (id)),
        |k AS (SELECT id, t,
        |    CASE WHEN spans IS NULL THEN t
        |    ELSE list_filter(t, (x, ix) ->
        |      len(list_filter(spans, r -> ix - 1 >= r.s AND ix - 1 <= r.e)) = 0)
        |    END AS kept
        |  FROM c)
        |SELECT id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(t) - len(kept) AS BIGINT) AS n_tokens_cut,
        |  coalesce(array_to_string(kept, ' '), '') AS text_cut
        |FROM k ORDER BY id""".stripMargin,

    "q59_dup_spans" ->
      """WITH corpus AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id % 5 = 0),
        |tok AS (
        |  SELECT id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |w0 AS (
        |  SELECT id, unnest(CASE WHEN len(t) < 5
        |      THEN CAST([] AS STRUCT(p BIGINT, g VARCHAR)[])
        |      ELSE list_transform(range(0, len(t) - 4),
        |             i -> {'p': i, 'g': array_to_string(t[i+1:i+5], ' ')}) END) AS u
        |  FROM tok),
        |w AS (SELECT id, CAST(u.p AS BIGINT) AS p, u.g AS g FROM w0),
        |dup AS (SELECT g FROM w GROUP BY g HAVING count(*) >= 2),
        |d AS (SELECT w.id, w.p FROM w JOIN dup USING (g)),
        |s AS (SELECT id, p, CASE WHEN p > coalesce(max(p + 4) OVER
        |        (PARTITION BY id ORDER BY p
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS brk FROM d),
        |i AS (SELECT id, p, sum(brk) OVER (PARTITION BY id ORDER BY p) AS island
        |      FROM s)
        |SELECT id, CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 4 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_windows
        |FROM i GROUP BY id, island ORDER BY id, span_start""".stripMargin,

    "q55_decontaminate" ->
      """WITH corpus AS (
        |  SELECT doc_id, text || ' zz quick brown fox jumps over lazy dog' AS text
        |  FROM documents),
        |ctok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM corpus),
        |cg AS (
        |  SELECT doc_id, CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
        |           i -> array_to_string(t[i+1:i+8], ' '))) END AS g
        |  FROM ctok),
        |etext AS (
        |  SELECT array_to_string(
        |      list_filter(string_split_regex(text, '\s+'), x -> x <> '')[1:15], ' ')
        |    || ' zz quick brown fox jumps over lazy dog' AS text
        |  FROM documents WHERE doc_id % 10 = 3),
        |etok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM etext),
        |eg AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) < 8 THEN CAST([] AS VARCHAR[])
        |    ELSE list_distinct(list_transform(range(0, len(t) - 7),
        |           i -> array_to_string(t[i+1:i+8], ' '))) END) AS gram
        |  FROM etok),
        |cx AS (SELECT doc_id, unnest(g) AS gram FROM cg),
        |m AS (SELECT cx.doc_id, cx.gram FROM cx JOIN eg USING (gram)),
        |df AS (SELECT gram, count(*) AS d FROM m GROUP BY gram),
        |kept AS (SELECT m.doc_id FROM m JOIN df USING (gram) WHERE df.d <= 100),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, len(g) AS n_ngrams FROM cg)
        |SELECT t.doc_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST(CASE WHEN t.n_ngrams > 0
        |       THEN (1000000 * coalesce(h.n_hit, 0)) // t.n_ngrams
        |       ELSE 0 END AS BIGINT) AS frac_ppm
        |FROM tot t LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q56_mixture_sample" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source IN ('src0', 'src1') THEN 2.5
        |         WHEN source IN ('src2', 'src3') THEN 0.25
        |         WHEN source = 'src4' THEN 0.0
        |         ELSE 1.0 END AS wt,
        |    CAST((doc_id * 1103515245 + 12345) % 1000000 AS DOUBLE) / 1000000.0 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS BIGINT)
        |      AS copies
        |  FROM w)
        |SELECT doc_id, source, CAST(t.c AS BIGINT) AS copy
        |FROM c, unnest([1, 2, 3]) AS t(c)
        |WHERE t.c <= copies
        |ORDER BY doc_id, copy""".stripMargin,

    "q57_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || ' contact u' || doc_id || '@ex.org'
        |    || ' ip 10.0.' || (doc_id % 256) || '.7'
        |    || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' v1.2.3 12345-678-9012 not@an' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text_scrubbed,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones
        |FROM p ORDER BY doc_id""".stripMargin,

    "q50_indegree_priority" ->
      """WITH fr AS (SELECT 'u://' || doc_id AS url, doc_id AS seed_idx FROM documents),
        |e AS (SELECT 'u://' || ((doc_id * 7 + j * 13) % 97) AS url
        |      FROM documents, unnest([0, 1, 2]) AS t(j)),
        |d AS (SELECT url, CAST(count(*) AS BIGINT) AS in_degree FROM e GROUP BY url)
        |SELECT fr.url, coalesce(d.in_degree, 0) AS in_degree,
        |  CAST((1048575 - least(coalesce(d.in_degree, 0), 1048575)) * 1099511627776
        |       + fr.seed_idx % 1099511627776 AS BIGINT) AS order_key
        |FROM fr LEFT JOIN d USING (url) ORDER BY fr.url""".stripMargin,

    "q49_token_packing" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, tokens,
        |    coalesce(sum(tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS e
        |  FROM t)
        |SELECT doc_id, tokens,
        |  CAST(e // 512 AS BIGINT) AS bin_start,
        |  CAST(e % 512 AS BIGINT) AS offset_in_bin,
        |  CAST(CASE WHEN tokens > 0
        |       THEN (e + tokens - 1) // 512 - e // 512 + 1 ELSE 1 END
        |    AS BIGINT) AS bins_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "q48_refresh_schedule" ->
      """WITH led AS (
        |  SELECT doc_id, doc_id % 9 AS wave FROM documents
        |  UNION ALL
        |  SELECT doc_id, doc_id % 5 AS wave FROM documents WHERE doc_id % 3 = 0),
        |last AS (SELECT doc_id, max(wave) AS last_wave FROM led GROUP BY doc_id)
        |SELECT 'http://h' || (doc_id % 20) || '.test/d/' || doc_id AS url,
        |  CAST((1048575 - least(10 - last_wave, 1048575)) * 1099511627776
        |       + doc_id AS BIGINT) AS seed_idx,
        |  CAST(10 - last_wave AS BIGINT) AS age
        |FROM last WHERE 10 - last_wave >= 4 ORDER BY url""".stripMargin,

    "q47_host_budget" ->
      """WITH f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |         'test.' || source AS host_rev, doc_id AS seed_idx
        |  FROM documents),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host_rev ORDER BY seed_idx) AS BIGINT)
        |        AS host_pos FROM f),
        |k AS (SELECT * FROM r WHERE host_pos <= 15)
        |SELECT CAST(row_number() OVER (ORDER BY (host_pos - 1) * 3, host_rev, seed_idx) AS BIGINT)
        |         AS fetch_seq,
        |       (host_pos - 1) * 3 AS slot, host_rev, canonical_url, seed_idx, host_pos
        |FROM k ORDER BY fetch_seq""".stripMargin,

    "q46_quality_gate" ->
      """WITH f AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'a b c'
        |       WHEN doc_id % 11 = 0 THEN 'verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword verylongsyntheticword'
        |       ELSE text ||
        |         CASE WHEN doc_id % 5 = 0 THEN repeat(' spam ham', 30) ELSE '' END ||
        |         CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'xx yy' || chr(10) || 'xx yy' ||
        |              chr(10) || 'xx yy' || chr(10) || 'xx yy' ELSE '' END
        |  END AS t FROM documents),
        |sig AS (SELECT doc_id, t,
        |  len(regexp_split_to_array(trim(t), '\s+')) AS ntok,
        |  len(regexp_replace(trim(t), '\s+', '', 'g')) AS nchar,
        |  list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
        |    x -> len(x) > 0) AS ls,
        |  list_transform(range(len(regexp_split_to_array(trim(t), '\s+')) - 1),
        |    i -> regexp_split_to_array(trim(t), '\s+')[i+1] || ' ' ||
        |         regexp_split_to_array(trim(t), '\s+')[i+2]) AS bg
        |  FROM f),
        |m AS (SELECT doc_id, ntok,
        |  nchar * 1.0 / ntok AS mwl,
        |  (len(ls) - len(list_distinct(ls))) * 1.0 / len(ls) AS dlf,
        |  CASE WHEN len(bg) = 0 THEN 0.0
        |       ELSE CAST(list_max(list_transform(list_distinct(bg),
        |              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg) END AS tbf
        |  FROM sig),
        |r AS (SELECT doc_id, ntok, mwl, dlf, tbf,
        |  list_sort(list_filter([
        |    CASE WHEN ntok < 10 THEN 'too_short' END,
        |    CASE WHEN ntok > 100000 THEN 'too_long' END,
        |    CASE WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len_out_of_range' END,
        |    CASE WHEN dlf > 0.30 THEN 'dup_lines' END,
        |    CASE WHEN tbf > 0.18 THEN 'repeated_bigram' END],
        |    x -> x IS NOT NULL)) AS reasons
        |  FROM m)
        |SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens, round(mwl, 6) AS mean_word_len,
        |  round(dlf, 6) AS dup_line_frac, round(tbf, 6) AS top_bigram_frac,
        |  coalesce(array_to_string(reasons, ','), '') AS reasons,
        |  CAST(len(reasons) = 0 AS BIGINT) AS passed
        |FROM r ORDER BY doc_id""".stripMargin,

    "q42_sitemap" ->
      """WITH sm AS (
        |  SELECT source,
        |    '<?xml version="1.0"?><urlset>' ||
        |    string_agg('<url><loc> http://' || source || '.test/docs/' || doc_id ||
        |               ' </loc><lastmod>2026-01-01</lastmod></url>', ''
        |      ORDER BY '<url><loc> http://' || source || '.test/docs/' || doc_id ||
        |               ' </loc><lastmod>2026-01-01</lastmod></url>') ||
        |    '</urlset>' AS xml
        |  FROM documents GROUP BY source)
        |SELECT source, trim(loc) AS url
        |FROM (SELECT source, unnest(regexp_extract_all(xml, '<loc>([^<]+)</loc>', 1)) AS loc
        |      FROM sm)
        |ORDER BY source, url""".stripMargin,

    "q43_priority_schedule" ->
      """WITH ind AS (
        |  SELECT t AS target, CAST(count(*) AS BIGINT) AS priority FROM (
        |    SELECT CAST(floor(doc_id / 2) AS BIGINT) AS t FROM documents
        |    UNION ALL
        |    SELECT CAST(floor(doc_id / 3) AS BIGINT) FROM documents) GROUP BY t),
        |f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |         'test.' || source AS host_rev, doc_id AS seed_idx,
        |         CAST(coalesce(priority, 0) AS BIGINT) AS priority,
        |         (1048575 - least(CAST(coalesce(priority, 0) AS BIGINT), 1048575))
        |           * 1099511627776 + doc_id AS okey
        |  FROM documents LEFT JOIN ind ON doc_id = target),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host_rev ORDER BY okey) AS BIGINT)
        |        AS host_pos FROM f)
        |SELECT CAST(row_number() OVER (ORDER BY (host_pos - 1) * 3, host_rev, okey) AS BIGINT)
        |         AS fetch_seq,
        |       (host_pos - 1) * 3 AS slot, host_rev, canonical_url, seed_idx, priority, host_pos
        |FROM r ORDER BY fetch_seq""".stripMargin,

    "q44_adaptive_backoff" ->
      """WITH f AS (
        |  SELECT 'http://' || source || '.test/docs/' || doc_id AS canonical_url,
        |         source || '.test' AS host, 'test.' || source AS host_rev, doc_id AS seed_idx
        |  FROM documents),
        |g AS (
        |  SELECT host,
        |    CAST(1 + ceil(3 * CAST(sum(CASE WHEN seed_idx % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |                  / count(*)) AS BIGINT) AS gap_seconds
        |  FROM f GROUP BY host),
        |j AS (SELECT f.*, g.gap_seconds FROM f JOIN g USING (host)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY host_rev ORDER BY seed_idx) AS BIGINT)
        |        AS host_pos FROM j)
        |SELECT CAST(row_number() OVER (ORDER BY (host_pos - 1) * gap_seconds, host_rev, seed_idx)
        |         AS BIGINT) AS fetch_seq,
        |       (host_pos - 1) * gap_seconds AS slot, host_rev, canonical_url, seed_idx,
        |       host_pos, gap_seconds
        |FROM r ORDER BY fetch_seq""".stripMargin,

    "q27_window_topk" ->
      """WITH w AS (SELECT o_orderpriority, o_orderkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rnk
        |FROM orders)
        |SELECT o_orderpriority, rnk, o_orderkey, cents FROM w WHERE rnk <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin
  )
}

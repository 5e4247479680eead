package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>), two paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. Queries are BROADCAST (the
  *    query set is small by construction); the corpus streams through one
  *    codegen'd map — no corpus shuffle at any scale. This is the
  *    correctness baseline and is already the right plan for |queries| ≲ 10³.
  *  - [[lshTopK]]: sign-random-projection buckets (Charikar '02). Corpus and
  *    queries are bucketed by the same hyperplanes; candidates = same-bucket
  *    pairs across `tables` independent hash tables (multi-probe by table,
  *    the standard recall knob). Join cost tracks bucket occupancy, not n².
  *    This is the 100 TB path: buckets partition the corpus, each task scores
  *    one bucket's candidates.
  */
/** Broadcast IVF centroid matrix with a per-deserialized-instance memo
  * (same pattern as [[graft.functions.BloomBank]] — the memo keeps the
  * broadcast `value()` call off the per-row path).
  */
final class IvfCentroids(
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]) extends Serializable {
  @transient private var local: Array[Array[Float]] = _
  def mat: Array[Array[Float]] = {
    var m = local
    if (m == null) { m = bc.value; local = m }
    m
  }
}

object IvfCentroids {
  /** Cosine-order score of v against centroid c: dot / ||c|| (||v|| is
    * constant across cells, so it never changes the argmax).
    */
  private def score(c: Array[Float], v: Array[Float]): Double = {
    var dot = 0.0; var n = 0.0; var i = 0
    val len = math.min(c.length, v.length)
    while (i < len) { dot += c(i).toDouble * v(i); n += c(i).toDouble * c(i); i += 1 }
    if (n == 0.0) 0.0 else dot / math.sqrt(n)
  }

  def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity; var c = 0
    while (c < cents.length) {
      val s = score(cents(c), v)
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  /** The `nProbe` highest-scoring cell ids, best first (ties → lower id). */
  def topCells(cents: Array[Array[Float]], v: Array[Float], nProbe: Int): Array[Int] = {
    val n = math.min(nProbe, cents.length)
    val ids = new Array[Int](n)
    val ss = Array.fill(n)(Double.NegativeInfinity)
    var c = 0
    while (c < cents.length) {
      val s = score(cents(c), v)
      var i = 0
      while (i < n && s <= ss(i)) i += 1 // strictly-better insert keeps lower id on tie
      if (i < n) {
        var j = n - 1
        while (j > i) { ss(j) = ss(j - 1); ids(j) = ids(j - 1); j -= 1 }
        ss(i) = s; ids(i) = c
      }
      c += 1
    }
    ids
  }
}

object Ann {

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** cosine(a, b) with sequential double accumulation (deterministic). */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)
    val na = sqrt(aggregate(a, lit(0.0d), (s, x) => s + x * x))
    val nb = sqrt(aggregate(b, lit(0.0d), (s, x) => s + x * x))
    when(na === 0.0 || nb === 0.0, lit(0.0d)).otherwise(dot / (na * nb))
  }

  /** Exact top-k neighbors for each query vector.
    * @param corpus  (idCol, vecCol)
    * @param queries (qidCol, vecCol) — small; broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(qidCol).as("q_id"), asDouble(col(vecCol)).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .where(if (excludeSelf) col("nn_id") =!= col("q_id") else lit(true))
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
      // narrow BEFORE the rank exchange: carrying the dim-sized vectors
      // through the window shuffle multiplies its bytes by ~2×dim (measured
      // 5.7 s → sub-second on the sf0.1 bench for the same result)
      .select(col("q_id"), col("nn_id"), col("cosine"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("nn_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("cosine"))
  }

  /** Chunk→document embedding: component-wise MEAN of each group's
    * vectors, L2-normalized — the standard pooled-document representation
    * for retrieval/dedup over chunked corpora. One hash aggregate via
    * [[graft.functions.vec_sum_agg]]: the buffer is a single double[dim]
    * per group with map-side partial merge, so nothing proportional to
    * chunks-per-doc is ever buffered or shuffled (a collect_list pool
    * would buffer every member vector — the mega-group trap — and an
    * explode-to-component pool would multiply the shuffle by dim).
    */
  def meanPool(chunks: DataFrame, keyCol: String, vecCol: String,
      outCol: String = "doc_embedding"): DataFrame = {
    val summed = chunks
      .groupBy(col(keyCol))
      .agg(graft.functions.vec_sum_agg(col(vecCol)).as("_sum"),
        count(col(vecCol)).as("_n")) // count matches the agg's null-skip
    val mean = transform(col("_sum"), x => x / col("_n"))
    val norm = sqrt(aggregate(mean, lit(0.0d), (s, x) => s + x * x))
    summed.select(col(keyCol),
      transform(when(norm === 0.0, mean).otherwise(transform(mean, x => x / norm)),
        x => x.cast("float")).as(outCol))
  }

  // ---------- IVF (inverted-file) path --------------------------------------

  /** Deterministic Lloyd's k-means over a driver-side sample — the coarse
    * quantizer of an IVF index (Jégou et al., PAMI'11 product-quantization
    * lineage; here just the IVF cell assignment, exact scoring within
    * cells). The sample is tiny by construction (`sampleN` rows collected in
    * `idCol` order — deterministic, no RNG), the iteration count fixed;
    * at 100 TB the centroids are still a driver-scale object (nlist ≤ 2^16 ×
    * dim floats) while the ASSIGNMENT below is a distributed codegen'd
    * expression.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 8, sampleN: Int = 2048): Array[Array[Float]] = {
    val sample = corpus.orderBy(col(idCol)).limit(sampleN)
      // cast to FLOAT so ARRAY<DOUBLE> input works like everywhere else in
      // the IVF path (getSeq[Float] on boxed Doubles would ClassCastException)
      .select(transform(col(vecCol), x => x.cast("float"))).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= nlist, s"sample ${sample.length} < nlist $nlist")
    val dim = sample(0).length
    // deterministic spread init: every (n/k)-th sample vector
    var centroids = Array.tabulate(nlist)(c => sample((c * sample.length) / nlist).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      for (v <- sample) {
        val c = IvfCentroids.nearest(centroids, v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) centroids(c) // empty cell keeps its centroid
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    centroids
  }

  /** IVF approximate top-k: corpus rows live in their nearest-centroid cell;
    * each query probes its `nProbe` nearest cells; candidates = equi-join on
    * cell id, scored exactly, ranked per query. The 100 TB shape: the
    * corpus partitions by cell (write it bucketed by `ivf_cell` and the
    * probe is partition-pruned), candidates ∝ corpus/nlist × nProbe — never
    * n². Recall knob: nProbe (≈ nProbe/nlist of the space searched).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nProbe: Int = 4, iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val cents = new IvfCentroids(
      spark.sparkContext.broadcast(kmeansCentroids(corpus, idCol, vecCol, nlist, iters)))
    def cellsOf(vec: Column, probes: Int): Column =
      Bridge.column(graft.functions.IvfCells(cents, Bridge.expression(vec), probes))
    ivfTopKAssigned(corpus, queries, idCol, qidCol, vecCol, k,
      element_at(cellsOf(col(vecCol), 1), 1), cellsOf(col(vecCol), nProbe))
  }

  /** [[ivfTopK]] with CALLER-SUPPLIED cell assignments — the generic
    * probing kernel (same move as [[lshTopKBucketed]]): `cellCol` places a
    * corpus row in its cell, `probeCellsCol` (an array) lists the cells a
    * query probes. The kmeans default delegates here; an arithmetic
    * assignment makes the whole multi-probe machinery (cell-partitioned
    * corpus, probe explode, cell-local scoring, per-query rank)
    * oracle-checkable end to end.
    */
  def ivfTopKAssigned(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      cellCol: Column, probeCellsCol: Column): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("cv_raw"),
      cellCol.as("cell"))
    val q = queries.select(col(qidCol).as("q_id"), col(vecCol).as("qv_raw"),
      explode(probeCellsCol).as("cell"))
    val scored = q.join(c, "cell")
      .withColumn("cosine", cosineCol(asDouble(col("qv_raw")), asDouble(col("cv_raw"))))
      .select(col("q_id"), col("nn_id"), col("cosine")) // narrow pre-window
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("nn_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("cosine"))
  }

  /** LSH-bucketed approximate top-k: candidates from `tables` SRP tables,
    * scored exactly, ranked per query. Recall grows with tables and falls
    * with bits (bucket granularity).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    // Bucket frames carry ONLY (id, table, bucket): the round-2 version
    // shipped the raw dim-sized vectors through every per-table candidate
    // join AND the pair-dedup exchange — dim×tables doubles per row where
    // 12 bytes suffice (the exact anti-pattern Dedup.cosineNearDupsBucketed
    // documents). Candidates are bare (q_id, nn_id) pairs; the vectors join
    // back ONCE, after dedup, moving |candidates| vectors instead of
    // |candidates|×tables.
    def bucketFrame(df: DataFrame, in: String, out: String): DataFrame =
      df.select(col(in).as(out),
        posexplode(array((0 until tables).map(t =>
          graft.functions.srp_bucket(col(vecCol), bits, seed = 7 + t)): _*)).as(Seq("t", "b")))
    // candidate = same bucket in ANY table: equi-join on (table, bucket)
    // ≡ the old union-over-tables, in one bucket-local join
    val cands = bucketFrame(queries, qidCol, "q_id")
      .join(bucketFrame(corpus, idCol, "nn_id"), Seq("t", "b"))
      .select("q_id", "nn_id")
      .distinct()
    scoreRankCandidates(cands, corpus, queries, idCol, qidCol, vecCol, k)
  }

  /** [[lshTopK]] with CALLER-SUPPLIED bucket columns (one INT per table) —
    * the generic kernel, mirroring [[graft.dedup.Dedup.cosineNearDupsBucketed]]:
    * any locality-sensitive bucketing plugs in (SRP, axis-sign
    * quantization, IVF cells), and a SQL-expressible one makes the whole
    * approximate top-k oracle-checkable end to end (candidate generation
    * INCLUDED — not just the scoring).
    */
  def lshTopKBucketed(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      buckets: Seq[Column]): DataFrame = {
    def bucketFrame(df: DataFrame, in: String, out: String): DataFrame =
      df.select(col(in).as(out), posexplode(array(buckets: _*)).as(Seq("t", "b")))
    val cands = bucketFrame(queries, qidCol, "q_id")
      .join(bucketFrame(corpus, idCol, "nn_id"), Seq("t", "b"))
      .select("q_id", "nn_id")
      .distinct()
    scoreRankCandidates(cands, corpus, queries, idCol, qidCol, vecCol, k)
  }

  /** Shared LSH tail: bare (q_id, nn_id) candidates get their vectors
    * joined back ONCE post-dedup, exact cosine, per-query rank ≤ k. The
    * narrow pre-window select keeps dim-sized vectors out of the rank
    * exchange.
    */
  private def scoreRankCandidates(cands: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, qidCol: String, vecCol: String,
      k: Int): DataFrame = {
    val scored = cands
      .join(queries.select(col(qidCol).as("q_id"), asDouble(col(vecCol)).as("qv")), "q_id")
      .join(corpus.select(col(idCol).as("nn_id"), asDouble(col(vecCol)).as("cv")), "nn_id")
      .withColumn("cosine", cosineCol(col("qv"), col("cv")))
      .select(col("q_id"), col("nn_id"), col("cosine")) // narrow pre-window
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("nn_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("cosine"))
  }
}

package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{cms_agg, cms_estimate}

/** Heavy-hitter mining, exact, sketch-pruned — boilerplate phrases, hot
  * hosts, template URLs: any key whose frequency crosses a threshold.
  *
  * The naive exact form (`groupBy(key).count.having(...)`) shuffles one
  * row PER DISTINCT KEY — at 10^10 distinct n-grams that is the whole
  * corpus through the exchange to find the ~10^3 keys that matter. This
  * operator applies the seen-set discipline to counting: a count-min
  * sketch (fixed 2 MiB, [[graft.functions.CmsBuild]]) absorbs the corpus in
  * one map-side-combined pass, and because CMS estimates never
  * UNDER-count, `estimate < threshold` rows are DEFINITELY below
  * threshold and skip the exact pass entirely. Only sketch-positive rows
  * (true heavies + the bounded over-count tail) reach the exact groupBy,
  * whose final HAVING makes the output exact — a sketch collision costs
  * shuffled rows, never a wrong answer.
  */
object HeavyHitters {

  /** Exact `(key, count)` for every key with count ≥ `minCount`.
    *
    * `keyCol` must be BIGINT (hash upstream — the engine convention).
    * `width` trades sketch size against candidate-pass selectivity: the
    * expected over-count is ≤ 2·rows/width per CM row, so pick
    * `width ≳ 2·rows/minCount` to keep false candidates rare.
    */
  def aboveThreshold(df: DataFrame, keyCol: String, minCount: Long,
      depth: Int = 4, width: Int = 1 << 16): DataFrame = {
    val sk = df.select(cms_agg(col(keyCol), depth, width).as("s"))
      .collect()(0).getAs[Array[Byte]](0)
    df.where(cms_estimate(lit(sk), col(keyCol)) >= minCount)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("count"))
      .where(col("count") >= minCount)
  }

  /** Per-document boilerplate density: the fraction (ppm) of a document's
    * DISTINCT n-grams that are corpus-wide heavy hitters — the "is this
    * page mostly template?" quality signal (nav bars, cookie banners,
    * footer chrome score high; prose scores low).
    *
    * One kernel pass per doc ([[graft.functions.NgramHashKeys]] — distinct
    * window hashes, so a doc spamming its own phrase can't inflate either
    * the doc frequency or its own density), heavy grams via the exact
    * sketch-pruned [[aboveThreshold]] over doc-frequency rows, then one
    * semi join back. Returns `(id, n_grams, n_hot, hot_ppm)` — one row per
    * input doc, integers only.
    */
  def boilerplateDensity(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocFreq: Long = 3L,
      depth: Int = 4, width: Int = 1 << 16): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
      explode(graft.functions.ngram_hash_keys(col(textCol), n)).as("gram"))
    val hot = aboveThreshold(grams, "gram", minDocFreq, depth, width)
      .select("gram")
    // per-doc gram totals WITHOUT the explode: |kernel output| is already
    // the row's distinct-gram count, so one projection + an 8-byte-row sum
    // replaces a full explode pass (the round-5 layout ran the n-gram
    // kernel 4× per call; this makes it 3×). A null text has no
    // grams: array_size is NULL for it in every ANSI mode (size(NULL) is -1
    // with ANSI off), so the coalesce counts it as 0
    val perDoc = docs
      .select(col(idCol).as("id"),
        coalesce(array_size(graft.functions.ngram_hash_keys(col(textCol), n)), lit(0))
          .cast("long").as("__k"))
      .groupBy("id").agg(sum(col("__k")).as("n_grams"))
    // hot is bounded only by rows/minDocFreq, so the join strategy is left
    // to AQE: it broadcasts a small hot set from its measured size, and a
    // large one shuffles instead of overflowing the driver and executors
    val hits = grams.join(hot, Seq("gram"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hot"))
    docs.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hot"), lit(0L)).as("n_hot"),
        coalesce(expr("(1000000 * n_hot) div n_grams"), lit(0L)).as("hot_ppm"))
  }
}

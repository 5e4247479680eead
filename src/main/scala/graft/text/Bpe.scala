package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.core.Rounds
import graft.functions.BpeMergePair

/** Byte-pair-encoding tokenizer TRAINING (Sennrich '16) — the step that
  * turns a curated corpus into the vocabulary the training run tokenizes
  * with, i.e. the last mile of a training-data pipeline.
  *
  * The scalable shape is the classic one: BPE statistics depend only on
  * the DISTINCT-WORD frequency table, so the corpus is collapsed once
  * (`wordFreqs` — one map-side-combined count at corpus scale, 10^12
  * tokens → 10^7-ish distinct words) and every merge round then runs on
  * the word table alone: adjacent-pair counts weighted by word frequency
  * (`pairCounts`, map-side combined), a 1-row argmax collect, and a
  * codegen'd per-word fuse ([[graft.functions.BpeMergePair]] — left-to-
  * right, non-overlapping, the reference semantics of the original
  * implementation). Nothing per-round ever shuffles more than the pair
  * vocabulary.
  *
  * Tie-break on equal counts is (a ASC, b ASC) — deterministic across
  * engines and partitionings, so a trained merge list is reproducible
  * bit-for-bit.
  */
object Bpe {

  /** Distinct-word frequency table `(word, freq)` — whitespace tokens. */
  def wordFreqs(docs: DataFrame, textCol: String,
      lowercase: Boolean = true): DataFrame = {
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    docs.select(explode(filter(split(base, "\\s+"), t => t =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
  }

  /** Symbol-ize: `(word, freq, syms)` with per-character symbols plus the
    * `</w>` end-of-word marker (so trailing merges differ from interior
    * ones — the Sennrich setup).
    */
  def init(words: DataFrame): DataFrame =
    words.select(col("word"), col("freq"),
      concat(split(col("word"), ""), array(lit("</w>"))).as("syms"))

  /** Adjacent-pair counts over the symbolized table, weighted by word
    * frequency: `(a, b, cnt)`. Counts ALL adjacent occurrences (the
    * original `get_stats`); the merge step is what enforces
    * non-overlapping application.
    */
  def pairCounts(symWords: DataFrame): DataFrame =
    symWords
      .select(col("freq"),
        explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("a"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("b"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  private def mergeCol(syms: Column, a: String, b: String): Column =
    Bridge.column(BpeMergePair(Bridge.expression(syms), a, b))

  /** One merge applied to the symbol table. */
  def applyMerge(symWords: DataFrame, a: String, b: String): DataFrame =
    symWords.withColumn("syms", mergeCol(col("syms"), a, b))

  /** Train `numMerges` merges; returns them in rank order. Each round is
    * one pair-count aggregate + a 1-row collect + a codegen map; lineage
    * is truncated every few rounds (a local checkpoint) so round N's plan
    * does not replay rounds 0..N-1, and each superseded checkpoint is
    * released, so storage does not grow with the merge count.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      lowercase: Boolean = true, minPairCount: Long = 2L): Seq[(String, String)] = {
    var syms = Rounds.materialize(init(wordFreqs(docs, textCol, lowercase)))._1
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minPairCount) exhausted = true
      else {
        val (a, b) = (top(0).getAs[String]("a"), top(0).getAs[String]("b"))
        merges += ((a, b))
        syms = applyMerge(syms, a, b)
        if (round % 4 == 3) {
          val prev = syms
          syms = Rounds.materialize(syms)._1
          Rounds.release(prev)
        }
      }
      round += 1
    }
    Rounds.release(syms)
    merges.toSeq
  }

  /** Tokenize words with a trained merge list (applied in rank order) —
    * the round-trip check that the merges actually compose: returns
    * `(word, freq, syms)` after all merges.
    */
  def applyAll(symWords: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(symWords) { case (df, (a, b)) => applyMerge(df, a, b) }

  /** Doc-level TOKEN COUNTS under a trained merge list — the number
    * [[graft.pipeline.Pack.packByTokenBudget]] should actually pack by
    * (the whitespace word count it uses otherwise systematically
    * underestimates sequence length for subword vocabularies).
    *
    * The scalable shape is the training one inverted: encode the DISTINCT
    * words once (the merge kernel runs |vocab| times, not |corpus| times
    * — 10^12 tokens collapse to ~10^7 distinct words), pre-aggregate the
    * corpus to (doc, word, occurrences) with a map-side combine, then one
    * equi-join against the encoded vocab and a weighted per-doc sum. The
    * join moves (doc, word-hash-sized) rows, never symbol arrays.
    *
    * @return (idCol, n_words, n_tokens) — n_tokens = Σ occurrences ×
    *         |merged symbols(word)|
    */
  def encodeCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], lowercase: Boolean = true): DataFrame = {
    val base = if (lowercase) lower(col(textCol)) else col(textCol)
    val occ = docs
      .select(col(idCol).as("id"),
        explode(filter(split(base, "\\s+"), t => t =!= "")).as("word"))
      .groupBy("id", "word").agg(count(lit(1)).as("occ"))
    val vocab = applyAll(
      init(occ.select(col("word")).distinct().withColumn("freq", lit(1L))),
      merges)
      .select(col("word"), size(col("syms")).cast("long").as("n_sym"))
    occ.join(vocab, Seq("word"))
      .groupBy(col("id").as(idCol))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_sym")).as("n_tokens"))
  }
}

package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination — the n-gram overlap rule every production
  * pretraining pipeline applies before training (GPT-3 appendix C's
  * 13-gram filter; Gopher / MassiveText report the same family): a corpus
  * document that shares token n-grams with a benchmark's text is
  * contaminated — training on it inflates the benchmark score — so the
  * pipeline must measure per-document overlap and emit a kill list.
  *
  * 100 TB shape: the EVAL side is small by construction (benchmarks are
  * thousands of documents, not billions), so its distinct n-gram keys
  * BROADCAST and the corpus-side explode is filtered to matches before
  * anything shuffles — per-doc totals are computed in-row (`size` of the
  * gram array, no shuffle), and the only exchange carries the (id, gram)
  * rows that actually hit the eval set, which is the contamination volume
  * itself, not the corpus volume. Nothing here is corpus × eval.
  *
  * The n-gram extraction is whitespace-token based and expressible in
  * plain SQL (both engines replay it — q55's oracle), with the hash join
  * key (`xxhash64` over the gram string) standing in for string equality.
  */
object Decontaminate {

  /** Distinct lower-cased token `n`-gram strings of `text` (whitespace
    * tokenization, Python-split-like: empty tokens dropped) — the
    * SEMANTICS SPEC of the production hash kernel
    * (`graft.functions.ngram_hash_keys`): same tokenization, same
    * windows, gram-for-gram (the spec pins `size` parity on real texts),
    * and directly replayable in plain SQL, which is what the q55 oracle
    * does. Built-in higher-order functions, which run INTERPRETED —
    * fine for oracles and eval sets, 200× too slow for the corpus side.
    * Texts shorter than `n` tokens yield an empty array (NOT a
    * descending `sequence` — Spark's sequence(0, -1) would count DOWN).
    */
  def ngramKeys(text: Column, n: Int): Column = {
    require(n >= 1, s"n: $n")
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    val grams = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    array_distinct(when(size(toks) < n, array().cast("array<string>")).otherwise(grams))
  }

  /** Per-document contamination against `evalSet`:
    * (id, n_ngrams, n_hit, frac_ppm) — `n_hit` = distinct n-grams shared
    * with ANY eval document, `frac_ppm` = exact integer parts-per-million
    * `(10^6 × n_hit) DIV n_ngrams` (integer arithmetic so any engine
    * reproduces it bit-for-bit; 0 for texts shorter than `n` tokens).
    *
    * `maxDocFreq` caps hot n-grams: a boilerplate gram shared by more
    * corpus documents than the cap (license headers, navigation chrome
    * that leaked into a benchmark) is evidence of BOILERPLATE, not of
    * contamination, and is dropped before per-doc counting — both a
    * precision fix and the skew fix (that one gram's join output alone is
    * its document frequency). `<= 0` disables.
    *
    * The corpus text kernel runs twice (totals projection + match
    * explode) by design: staging the exploded gram rows to avoid the
    * second pass would materialize ~tokens× the corpus text volume,
    * a far worse trade than re-running a codegen'd split (the same
    * reasoning as [[Dedup.minHashSigs]], decided the other way because
    * the staged rows there are 140 B, not the whole token stream).
    */
  def contamination(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int = 13,
      maxDocFreq: Int = 0): DataFrame = {
    // distinct eval gram keys — the broadcast side. The kernel is the
    // codegen'd ngram_hash_keys expression: the HOF form of the same
    // computation ([[ngramKeys]], kept as the SQL-replayable semantics
    // twin) runs interpreted at ~1.2 ms/doc — 200× slower, measured —
    // and this kernel runs 3× per corpus row (totals + match + df-cap).
    def keys(c: Column) = graft.functions.ngram_hash_keys(c, n)
    val evalGrams = broadcast(
      evalSet.select(explode(keys(col(evalTextCol))).as("gh")).distinct())
    // in-row totals: no shuffle, no explode. A null text has no ngrams:
    // array_size is NULL for it in every ANSI mode (size(NULL) is -1 with
    // ANSI off), so the coalesce counts it as 0
    val totals = corpus.select(col(idCol).as("id"),
      coalesce(array_size(keys(col(textCol))), lit(0)).cast("long").as("n_ngrams"))
    // matches only: the explode is filtered by the broadcast join before
    // any exchange — unmatched grams (the corpus bulk) never shuffle
    val matched = corpus
      .select(col(idCol).as("id"), explode(keys(col(textCol))).as("gh"))
      .join(evalGrams, Seq("gh"), "left_semi")
    val capped =
      if (maxDocFreq <= 0) matched
      else {
        // one row per (doc, gram) by construction (ngramKeys is distinct
        // per row) ⇒ count = corpus document frequency
        val hot = matched.groupBy(col("gh"))
          .agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq)
          .select("gh")
        matched.join(hot, Seq("gh"), "left_anti")
      }
    val hits = capped.groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("frac_ppm",
        when(col("n_ngrams") > 0,
          expr("(1000000 * n_hit) DIV n_ngrams")).otherwise(lit(0L)))
  }

  /** The kill list: ids of corpus documents sharing at least `minHits`
    * distinct n-grams with the eval set (GPT-3's rule is any overlap —
    * `minHits = 1`). Same plan as [[contamination]] minus the totals join.
    */
  def killList(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int = 13,
      minHits: Long = 1L, maxDocFreq: Int = 0): DataFrame =
    contamination(corpus, idCol, textCol, evalSet, evalTextCol, n, maxDocFreq)
      .where(col("n_hit") >= minHits)
      .select("id", "n_hit")
}

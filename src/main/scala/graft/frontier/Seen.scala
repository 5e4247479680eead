package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{canonicalize_url, host_of, host_reverse, sketch_agg, BankSketch, BloomBank, BloomFamily, CuckooBank, CuckooFamily, FilterBank}

/** URL-seen set: exact membership, bloom-accelerated.
  *
  * Reference semantics: the seen set is the key set of the results dict —
  * exact string membership, last-write-wins on duplicates
  * (`/root/reference/web_scraper_pipeline.py:198,205`). The rebuild keeps
  * membership EXACT (a probabilistic answer would drop never-fetched URLs),
  * but at 10^10 keys an exact anti-join of every candidate against the full
  * ledger shuffles the world every wave. The classic crawler layout
  * (Heritrix/IRLbot lineage) is used instead:
  *
  *   - ledger: the exact ground truth of (url_hash, canonical_url). The
  *     persistent, BUCKET-ALIGNED form (catalog table `CLUSTERED BY
  *     url_hash` + incrementally-merged per-bucket blooms + compaction)
  *     lives in [[Ledger]] — the anti-join there reads the ledger
  *     pre-partitioned and shuffles only the candidate side. The helpers
  *     in THIS object take ad-hoc ledger frames (benchmarks, single-shot
  *     jobs) with a sketch built on the fly or supplied by the caller;
  *   - filter pre-filter: a bank of one filter per hash bucket (one
  *     bucket for an ad-hoc ledger), bloom or cuckoo, built by the one
  *     bank aggregate ([[graft.functions.BankSketch]] through
  *     [[graft.functions.SketchAgg]]; `bloom_bank_agg` is its bloom name)
  *     and probed through one [[graft.functions.FilterBank]]. A negative
  *     probe → DEFINITELY new → skips the join entirely. Only positives
  *     (true hits + fpp·|new|) reach the left-anti join, so the shuffled
  *     fraction is ≈ |dups| + 0.1% of |new| instead of 100%. Every entry
  *     point here and [[Ledger.filterUnseen]] share that aggregate, that
  *     probe and one verify tail ([[verifyPositives]]).
  *
  * Keys are `xxhash64(canonical_url)` (north rule: murmur3-family hashing;
  * Spark's `hash` = Murmur3_x86_32 is used for bucketing where 32 bits
  * suffice, xxhash64 where collision space matters).
  */
object Seen {

  /** Columns added to any frontier DataFrame with a `url` column. */
  def withUrlKeys(df: DataFrame): DataFrame = {
    val canon = df.withColumn("canonical_url", canonicalize_url(col("url")))
    canon
      .withColumn("url_hash", xxhash64(col("canonical_url")))
      .withColumn("host", host_of(col("canonical_url")))
      .withColumn("host_rev", host_reverse(col("host")))
  }

  /** Exact de-dup of candidates against an ad-hoc seen ledger: a
    * one-bucket bloom bank built from the ledger and probed through
    * [[filterUnseenWithBank]].
    *
    * @param candidates must carry `url_hash`
    * @param seenLedger must carry `url_hash`; pass an empty frame for wave 0
    * @return candidates minus seen (exact)
    */
  def filterUnseen(candidates: DataFrame, seenLedger: DataFrame,
      expectedSeen: Long = 1L << 20, fpp: Double = 1e-3): DataFrame =
    // one aggregate job builds a ONE-bucket bank over the ledger; at 10^10
    // the same dataflow runs with one bloom per hash bucket ([[Ledger]]).
    // NOTE the verify split re-evaluates `candidates` on both branches —
    // callers should pass a cheap upstream (scan + canonicalize), i.e. run
    // this BEFORE any shuffling stage like dropInWaveDuplicates (the two
    // commute: seen-status is a function of url_hash, constant within a
    // duplicate group).
    filterUnseenWithBank(candidates, seenLedger,
      bankOf(seenLedger, BankSketch(BloomFamily, 1, expectedSeen, fpp)), buckets = 1)

  /** Partitioned-bloom variant of [[filterUnseen]] with a CALLER-SUPPLIED
    * bank — the 10^10-scale shape the north rule names ("partitioned bloom
    * seen-set"): one bloom per `pmod(url_hash, buckets)` bucket, shipped as
    * ONE TorrentBroadcast (a plan Literal would re-ship with every stage's
    * task binary), probes routed to their bucket's bloom. [[Ledger]] keeps
    * such a bank persistent across waves; this entry point serves
    * pipelines that build the per-bucket blooms INSIDE an upstream job
    * (e.g. as `observe()` aggregates riding a staging write: the bank costs
    * ZERO extra jobs and zero extra passes over the data).
    *
    * CONTRACT: the bank must contain AT LEAST every `seenLedger` key —
    * negatives bypass the anti-join, so a bank MISSING seen keys mints
    * false negatives = silently lost dedup (the worst seen-set failure;
    * same invariant as [[Ledger]]'s `_SUCCESS`-gated banks). The safe
    * direction is over-approximation: a bank built from MORE keys (e.g. the
    * whole staged frame instead of the seen half) only costs extra
    * anti-join traffic, never answers. Pass rows as (bucket, serialized
    * bloom).
    */
  def filterUnseenWithBank(candidates: DataFrame, seenLedger: DataFrame,
      bankRows: Array[(Int, Array[Byte])], buckets: Int): DataFrame = {
    if (bankRows.isEmpty) return candidates
    verifyPositives(candidates,
      bankProbe(new BloomBank(candidates.sparkSession.sparkContext.broadcast(bankRows)), buckets),
      seenLedger)
  }

  /** Cuckoo-bank twin of [[filterUnseen]] (the cuckoo family of
    * "partitioned bloom/cuckoo URL-seen set"; oracle query q69). Same
    * dataflow and the same bank aggregate — one filter per bucket, one
    * broadcast bank, the probe routes negatives past the anti-join — with
    * the cuckoo trade: ~1.2e-4 fpp at 19.5 bits/key, fewer false positives
    * reach the anti-join than the 1e-2 bloom default at comparable bytes.
    * Membership stays exact either way: sketch positives are verified by
    * the left-anti join, so a filter false positive costs a shuffled row,
    * never a wrong answer.
    */
  def filterUnseenCuckooBucketed(candidates: DataFrame, seenLedger: DataFrame,
      buckets: Int = 64, expectedPerBucket: Long = 1 << 16): DataFrame = {
    val rows = bankOf(seenLedger, BankSketch(CuckooFamily, buckets, expectedPerBucket, 0.0))
    verifyPositives(candidates,
      bankProbe(new CuckooBank(candidates.sparkSession.sparkContext.broadcast(rows)), buckets),
      seenLedger)
  }

  /** A bank over `url_hash` of `keys` as (bucket, filter image) rows: the
    * one bank aggregate, run as one job.
    */
  private def bankOf(keys: DataFrame, bank: BankSketch[_]): Array[(Int, Array[Byte])] =
    keys.select(sketch_agg(col("url_hash"), bank)).head().getSeq[Array[Byte]](0)
      .zipWithIndex.map(_.swap).toArray

  /** The probe column of a broadcast bank over `url_hash`, routed to the
    * bucket `pmod(url_hash, buckets)` the bank aggregate filed it under.
    */
  private[frontier] def bankProbe(bank: FilterBank[_], buckets: Int): Column =
    Bridge.column(bank.probe(
      Bridge.expression(pmod(col("url_hash"), lit(buckets)).cast("int")),
      Bridge.expression(col("url_hash"))))

  /** The exact tail every sketch pre-filter shares: probe-negatives are
    * definitely new and skip the join; probe-positives are verified by the
    * left-anti join against `seenKeys`. `checkNegatives` lets a caller whose
    * sketch may lag its keys (see [[Ledger.filterUnseen]]) verify the
    * negatives too. The probe stays a plain `where` condition on both
    * branches, so plans show it as a Filter over the candidates.
    */
  private[frontier] def verifyPositives(candidates: DataFrame, maybeSeen: Column,
      seenKeys: DataFrame, checkNegatives: DataFrame => DataFrame = identity): DataFrame = {
    val positives = candidates.where(maybeSeen)
      .join(seenKeys.select("url_hash"), Seq("url_hash"), "left_anti")
    checkNegatives(candidates.where(!maybeSeen)).unionByName(positives)
  }

  /** In-wave duplicate collapse: the reference re-fetches duplicate seeds but
    * the dict keeps one entry per url (`:205`) — output key-set = DISTINCT.
    * First occurrence (min seed_idx) wins so crawl order stays the first
    * appearance, matching the sequential loop's first-fetch position.
    *
    * Plan shape, in order of rejection:
    *  - min_by(struct(all cols)): the aggregation buffer holds strings, which
    *    kicks HashAggregateExec (UnsafeRow, primitive buffers only) over to
    *    ObjectHashAggregate/SortAggregate — measured 4× slower with heavy GC
    *    under 32 concurrent tasks;
    *  - groupBy(url_hash).min(seed_idx) + left-semi join back (round 1's
    *    choice): two exchanges, and NOT exact when two parents discover the
    *    same url with an EQUAL seed_idx — the semi join preserves tie
    *    multiplicity (found by the 20-wave real-discovery crawl);
    *  - THIS: row_number over (url_hash ORDER BY seed_idx) — ONE exchange +
    *    an in-partition sort of tiny per-url groups. url_hash is a
    *    max-cardinality key, so the window has none of the host-window's
    *    skew problem; rn=1 is exact under any input multiset (tie rows are
    *    identical by construction — every payload column derives from the
    *    url — so the arbitrary tie-pick is still deterministic output).
    */
  def dropInWaveDuplicates(candidates: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_hash")).orderBy(col("seed_idx"))
    candidates
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }
}

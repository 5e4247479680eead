package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.{bloom_agg, bloom_might_contain, canonicalize_url, cuckoo_agg, host_of, host_reverse, BloomBank, BloomBankProbe, CuckooBank, CuckooBankProbe}

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
  *   - bloom pre-filter: one BloomFilter per run (or per bucket at scale),
  *     built by the [[graft.functions.BloomAgg]] TypedImperativeAggregate.
  *     `might_contain == false` → DEFINITELY new → skips the join entirely.
  *     Only bloom-positives (true hits + fpp·|new|) reach the left-anti join,
  *     so the shuffled fraction is ≈ |dups| + 0.1% of |new| instead of 100%.
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

  /** Exact de-dup of candidates against the seen ledger, bloom-accelerated.
    *
    * @param candidates must carry `url_hash`
    * @param seenLedger must carry `url_hash`; pass an empty frame for wave 0
    * @return candidates minus seen (exact)
    */
  def filterUnseen(candidates: DataFrame, seenLedger: DataFrame,
      expectedSeen: Long = 1L << 20, fpp: Double = 1e-3): DataFrame = {
    // Build the bloom with one aggregate job over the ledger. At sf scale a
    // single bloom is fine; at 10^10 this becomes one bloom per hash bucket
    // with the probe routed by pmod(url_hash, buckets) — same dataflow.
    val bloomRow = seenLedger.select(
      bloom_agg(col("url_hash"), math.max(expectedSeen, 1024L), fpp).as("bloom"))
      .collect()
    val bloomBytes = if (bloomRow.isEmpty || bloomRow(0).isNullAt(0)) null
      else bloomRow(0).getAs[Array[Byte]](0)
    if (bloomBytes == null) return candidates
    // NOTE the verify split re-evaluates `candidates` on both branches —
    // callers should pass a cheap upstream (scan + canonicalize), i.e. run
    // this BEFORE any shuffling stage like dropInWaveDuplicates (the two
    // commute: seen-status is a function of url_hash, constant within a
    // duplicate group).
    verifyPositives(candidates, bloom_might_contain(lit(bloomBytes), col("url_hash")),
      seenLedger)
  }

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
      bloomBankProbe(candidates.sparkSession, bankRows, buckets), seenLedger)
  }

  /** Cuckoo-bank twin of [[filterUnseenWithBank]] that builds its bank from
    * `seenLedger` (the cuckoo family of "partitioned bloom/cuckoo URL-seen
    * set"; oracle query q69). Same dataflow — per-bucket sketch aggregate →
    * one broadcast bank → probe routes negatives past the anti-join — with
    * the cuckoo trade: ~1.2e-4 fpp at 19.5 bits/key, fewer false positives
    * reach the anti-join than the 1e-2 bloom default at comparable bytes.
    * Membership stays exact either way: sketch positives are verified by
    * the left-anti join, so a filter false positive costs a shuffled row,
    * never a wrong answer.
    */
  def filterUnseenCuckooBucketed(candidates: DataFrame, seenLedger: DataFrame,
      buckets: Int = 64, expectedPerBucket: Long = 1 << 16): DataFrame = {
    val spark = candidates.sparkSession
    val rows = seenLedger
      .groupBy(bucketOf(col("url_hash"), buckets).as("bucket"))
      .agg(cuckoo_agg(col("url_hash"), math.max(expectedPerBucket, 1024L)).as("ck"))
      .collect()
    if (rows.isEmpty) return candidates
    val bank = new CuckooBank(spark.sparkContext.broadcast(
      rows.map(r => (r.getAs[Int]("bucket"), r.getAs[Array[Byte]]("ck")))))
    verifyPositives(candidates, Bridge.column(CuckooBankProbe(bank,
      Bridge.expression(bucketOf(col("url_hash"), buckets)),
      Bridge.expression(col("url_hash")))), seenLedger)
  }

  /** Bank bucket of a url_hash: the routing every per-bucket sketch shares. */
  private[frontier] def bucketOf(c: Column, buckets: Int): Column =
    pmod(c, lit(buckets)).cast("int")

  /** Probe column over a broadcast bank of (bucket, serialized bloom) rows. */
  private[frontier] def bloomBankProbe(spark: SparkSession,
      rows: Array[(Int, Array[Byte])], buckets: Int): Column = {
    val bank = new BloomBank(spark.sparkContext.broadcast(rows))
    Bridge.column(BloomBankProbe(bank,
      Bridge.expression(bucketOf(col("url_hash"), buckets)),
      Bridge.expression(col("url_hash"))))
  }

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

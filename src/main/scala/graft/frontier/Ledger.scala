package graft.frontier

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{bloom_agg, bloom_merge_agg}
import graft.core.Fs

/** Persistent seen-set ledger, the 10^10-scale layout the north rule names:
  * a BUCKETED catalog table of (url_hash, canonical_url, wave) plus an
  * INCREMENTALLY-MAINTAINED per-bucket bloom bank.
  *
  * Why each piece exists (all three were round-1 gaps):
  *
  *  - '''bucketed table''' (`CLUSTERED BY (url_hash) INTO B BUCKETS`): the
  *    per-wave exact anti-join reads the ledger pre-partitioned on the join
  *    key, so only the (small) candidate side shuffles — the round-1 layout
  *    re-shuffled the whole ledger every wave, a cost that grows with crawl
  *    age instead of wave size.
  *  - '''incremental blooms''': wave K's bank = merge(bank K-1, bloom over
  *    delta K) via [[graft.functions.BloomMergeAgg]] — an O(|delta| +
  *    buckets) job. Round 1 re-aggregated the FULL ledger per wave.
  *  - '''wave column''': appends are at-least-once (a crash between append
  *    and manifest re-appends the delta on resume). Membership semantics
  *    make duplicates harmless, and filtering `wave <= lastCommitted` keeps
  *    a half-committed wave's rows out of its own re-run — the resume
  *    fixture's exactness guarantee.
  *  - '''compaction''' ([[Ledger.compact]]): collapses the per-wave delta
  *    files (one file per bucket per wave) to one file per bucket and
  *    dedups to min-wave per url, bounding file counts on long crawls.
  *
  * Broadcast ceiling ([[Ledger.filterUnseen]]): the collected bank is
  * tens of GB at 10^10 keys and CANNOT broadcast. When its serialized size
  * exceeds `maxBankBytes` the probe falls back to the plain bucket-aligned
  * anti-join — in vanilla Spark the bucketed table IS the co-partitioned
  * probe structure (each task checks candidates against its own bucket's
  * sorted files); the bloom then lives only in per-bucket row-group stats.
  */
final class Ledger(
    spark: SparkSession,
    val root: String,
    val buckets: Int = 64,
    val expectedPerBucket: Long = 1 << 16,
    val fpp: Double = 1e-2,
    val maxBankBytes: Long = 256L << 20,
    val compactEvery: Int = 8,
    val bankSingleFileBytes: Long = 64L << 20) extends Serializable {

  /** Catalog name is derived from the root path so independent crawls in one
    * session never collide; the version suffix changes on compaction.
    */
  private def tableName(version: Int): String =
    s"graft_seen_${math.abs(scala.util.hashing.MurmurHash3.stringHash(root))}_v$version"

  // engine state goes through the Hadoop FS resolved from the root's
  // scheme (graft.core.Fs): a remote root (hdfs://, s3a://) must hold
  // these files next to the data — java.nio.file would silently use the
  // driver's local disk and the ledger could never resume elsewhere
  private def versionFile = s"$root/_ledger_version"
  private def paramsFile = s"$root/_ledger_params"

  def currentVersion: Int =
    if (Fs.exists(versionFile)) Fs.readString(versionFile).trim.toInt else 0

  private def tableLocation(version: Int) = s"$root/ledger_v$version"

  /** Idempotent: registers the current version's table (fresh session resume
    * re-registers over the existing files — the bucketing METADATA lives in
    * the catalog, so resume must restore it before the files are useful),
    * validates the sketch parameters against the persisted ones (opening an
    * existing root with different buckets/fpp would silently mis-route bloom
    * probes = false negatives = lost dedup — fail fast instead), and sweeps
    * pre-compaction table versions a crash may have leaked.
    */
  def ensure(): Unit = {
    Fs.mkdirs(root)
    if (!Fs.exists(versionFile)) Fs.writeString(versionFile, "0")
    val params = s"""{"buckets":$buckets,"expectedPerBucket":$expectedPerBucket,"fpp":$fpp,"sketch":"bloom"}"""
    // roots written before the sketch field existed carry the 3-field form;
    // they are bit-identical to the bloom form and must stay openable
    val legacyParams = s"""{"buckets":$buckets,"expectedPerBucket":$expectedPerBucket,"fpp":$fpp}"""
    if (!Fs.exists(paramsFile)) Fs.writeString(paramsFile, params)
    else {
      val stored = Fs.readString(paramsFile).trim
      // a bank of another sketch family would be probed as blooms —
      // garbage answers, i.e. lost dedup; say which family the root holds
      val storedSketch = """"sketch":"([^"]*)"""".r.findFirstMatchIn(stored)
        .map(_.group(1)).getOrElse("bloom")
      require(storedSketch == "bloom",
        s"ledger at $root holds a '$storedSketch' sketch bank; only bloom banks are supported")
      require(stored == params || stored == legacyParams,
        s"ledger at $root was created with $stored; this instance has $params — " +
          "sketch parameters are part of the on-disk format and cannot change on resume")
    }
    val v = currentVersion
    val name = tableName(v)
    // the insert path LISTS the location before writing — it must exist
    Fs.mkdirs(tableLocation(v))
    if (!spark.catalog.tableExists(name)) {
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name
           |  (url_hash BIGINT, canonical_url STRING, wave INT)
           |USING PARQUET
           |CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO $buckets BUCKETS
           |LOCATION '${tableLocation(v)}'""".stripMargin)
    }
    // sweep leaked older versions (crash between version bump and cleanup)
    for (old <- 0 until v) {
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(old)}")
      Fs.deleteTree(tableLocation(old))
    }
  }

  private def tombstoneDir = s"$root/tombstones"

  /** The committed slice of the ledger (bucketed scan — no exchange needed
    * on this side of a url_hash join), minus tombstoned rows ([[unsee]]).
    * The tombstone subtraction is a BROADCAST left join (tombstone batches
    * are maintenance-sized), so the scan's bucket partitioning survives to
    * the downstream url_hash anti-join; when no tombstones exist this is
    * the plain scan — zero overhead on the normal wave loop.
    */
  def committedFrame(upToWave: Int): DataFrame = {
    val base = spark.table(tableName(currentVersion)).where(col("wave") <= upToWave)
    if (!Fs.exists(tombstoneDir)) base
    else Ledger.applyTombstones(base,
      spark.read.parquet(tombstoneDir).where(col("t_wave") <= upToWave))
  }

  /** Append one wave's delta. `repartition(buckets, url_hash)` uses the same
    * murmur3-pmod layout as the table's bucketing, so every task holds
    * exactly one bucket → ONE file per bucket per wave (without it, each
    * task would write a file per bucket it touches: tasks×buckets files).
    */
  def append(delta: DataFrame, wave: Int): Unit = {
    ensure()
    delta.select(col("url_hash"), col("canonical_url"), lit(wave).cast("int").as("wave"))
      .repartition(buckets, col("url_hash"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, "url_hash").sortBy("url_hash") // must restate the table's spec
      .saveAsTable(tableName(currentVersion))
  }

  private def bloomDir(wave: Int) = s"$root/blooms/wave=$wave"

  /** [[append]] + [[writeBlooms]] in ONE pass over the delta: the
    * per-bucket delta blooms ride the bucketed table append as `observe()`
    * aggregates (partials computed inside the append's own tasks), and the
    * merge with the previous bank happens on the driver — legal exactly
    * when the bank is SMALL (≤ `bankSingleFileBytes`, the same threshold
    * that already switches the bank to a single file), because bloom OR is
    * bitwise-commutative, so the driver-side merge is byte-identical to
    * the distributed `bloom_merge_agg`. Falls back to the two-pass
    * append + writeBlooms when either precondition fails: a coverage gap
    * (healing must read the table), or a bank past the driver threshold
    * (the merge must stay distributed). The wave loop calls this — at
    * steady state it saves one full delta read + aggregate job per wave.
    */
  def appendWithBlooms(delta: DataFrame, wave: Int): Unit = {
    ensure()
    val prevOpt = latestBloomWave(wave - 1)
    val covered = prevOpt.getOrElse(-1)
    val estBank = prevOpt.map(w => Fs.treeBytes(bloomDir(w), ".parquet"))
      .getOrElse(buckets.toLong * emptyBloomBytes)
    if (covered < wave - 1 || estBank > bankSingleFileBytes) {
      append(delta, wave)
      writeBlooms(delta, wave)
      return
    }
    val obs = org.apache.spark.sql.Observation()
    delta.select(col("url_hash"), col("canonical_url"), lit(wave).cast("int").as("wave"))
      // ONE whole-bank aggregate (bucket computed once per row): the
      // N-separate-bloom_agg form evaluated N when() children per row and
      // measurably slowed the append it was riding
      .observe(obs, graft.functions.bloom_bank_agg(col("url_hash"), buckets,
        expectedPerBucket, fpp).as("bank"))
      .repartition(buckets, col("url_hash"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, "url_hash").sortBy("url_hash")
      .saveAsTable(tableName(currentVersion))
    val observed = obs.get
    if (observed.isEmpty) {
      // an EMPTY delta write surfaces no observed metrics — the append
      // above was a no-op; let writeBlooms carry the bank label forward
      // (its delta aggregate over zero rows handles this case already)
      writeBlooms(delta, wave)
      return
    }
    def des(b: Array[Byte]) = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
    def ser(f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(); f.writeTo(out); out.toByteArray
    }
    val prevRows: Map[Int, Array[Byte]] = prevOpt match {
      case None => Map.empty
      case Some(w) => spark.read.parquet(bloomDir(w)).collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Array[Byte]]("bloom")).toMap
    }
    val deltaBank = observed("bank").asInstanceOf[scala.collection.Seq[Array[Byte]]]
    val merged = (0 until buckets).map { b =>
      val d = deltaBank(b)
      prevRows.get(b) match {
        case Some(p) => (b, ser(des(p).mergeInPlace(des(d))))
        case None => (b, d)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bloom",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          merged.map { case (b, by) => org.apache.spark.sql.Row(b, by) }, 1),
        schema)
      .write.mode(SaveMode.Overwrite).parquet(bloomDir(wave))
    for (n <- Fs.childNames(s"$root/blooms")
         if n.startsWith("wave=") && n.stripPrefix("wave=").toIntOption.exists(_ < wave - 1))
      Fs.deleteTree(s"$root/blooms/$n")
  }

  /** Serialized bytes of one EMPTY per-bucket bloom — the bank-size
    * estimator's unit when no previous bank exists (the serialized size is
    * fixed by (expectedPerBucket, fpp) regardless of fill, so this is the
    * right order of magnitude pre-compression).
    */
  private lazy val emptyBloomBytes: Long = {
    val out = new java.io.ByteArrayOutputStream()
    org.apache.spark.util.sketch.BloomFilter
      .create(math.max(expectedPerBucket, 1024L), fpp).writeTo(out)
    out.size().toLong
  }

  /** Latest materialized bloom state at or before `wave` (committed waves
    * only — the caller passes lastCommitted). Requires the writer's
    * `_SUCCESS` marker: a crash mid-write must read as absent, because a
    * PARTIAL bank would produce bloom false negatives — silently lost
    * dedup, the worst failure mode a seen-set can have.
    */
  private def latestBloomWave(wave: Int): Option[Int] =
    (wave to 0 by -1).find(w => Fs.exists(s"${bloomDir(w)}/_SUCCESS"))

  /** Write wave K's bloom state = merge(state K-1, bloom over delta K).
    * Cost: one pass over the DELTA plus `buckets` sketch rows — never the
    * full ledger (LedgerSpec pins the records-read bound) — EXCEPT when
    * healing a coverage gap (below), which additionally reads exactly the
    * uncovered slice.
    *
    * Gap healing: a bank labeled wave K is trusted COMPLETELY by
    * [[filterUnseen]] (its `w >= upToWave` branch skips the uncovered-slice
    * anti-join), so if the previous bank lags (caller appended waves
    * without writeBlooms, or a bloom write crashed), the keys of the
    * uncovered waves MUST be folded in here — labeling a bank with a wave
    * it doesn't cover would turn into bloom false negatives = silent lost
    * dedup. In the normal loop the gap is empty and this reads nothing.
    */
  def writeBlooms(delta: DataFrame, wave: Int): Unit = {
    ensure() // gap healing reads the table; make sure it exists
    val prevOpt = latestBloomWave(wave - 1)
    val covered = prevOpt.getOrElse(-1)
    val keys =
      if (covered >= wave - 1) delta.select("url_hash")
      else delta.select("url_hash").unionByName(
        committedFrame(wave - 1).where(col("wave") > covered).select("url_hash"))
    val deltaBlooms = keys
      .groupBy(Seen.bucketOf(col("url_hash"), buckets).as("bucket"))
      .agg(bloom_agg(col("url_hash"), math.max(expectedPerBucket, 1024L), fpp).as("bloom"))
    val merged = prevOpt match {
      case None => deltaBlooms
      case Some(prev) =>
        spark.read.parquet(bloomDir(prev)).unionByName(deltaBlooms)
          .groupBy("bucket").agg(bloom_merge_agg(col("bloom")).as("bloom"))
    }
    // SIZE-ADAPTIVE layout. Big bank (estimated > bankSingleFileBytes):
    // one FILE per bucket (dir partitioned by bucket) — the merge stays
    // parallel (a coalesce(1) would funnel tens of GB at 10^10 keys through
    // ONE serializing task every wave) and a selective reader loads only
    // its buckets. Small bank: ONE file — the per-bucket layout costs
    // ~`buckets` extra file commits per wave, pure overhead when the whole
    // bank is a few MB (measured: it cost WaveBench ~10% end-to-end).
    // Readers are layout-blind: both forms surface (bucket, bloom) rows.
    // The estimate reads file METADATA of the previous bank (or sizes one
    // empty serialized bloom when there is none) — never the data.
    val estBank = prevOpt.map(w => graft.core.Fs.treeBytes(bloomDir(w), ".parquet"))
      .getOrElse(buckets.toLong * emptyBloomBytes)
    if (estBank <= bankSingleFileBytes)
      merged.coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(bloomDir(wave))
    else
      merged.repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(bloomDir(wave))
    // GC: each bank is FULL state (tens of GB at 10^10 keys), so stale wave
    // dirs accumulate unboundedly on a long crawl. Keep one predecessor for
    // crash-resume (a crash before this wave's manifest re-runs against it),
    // drop everything older.
    for (n <- Fs.childNames(s"$root/blooms")
         if n.startsWith("wave=") && n.stripPrefix("wave=").toIntOption.exists(_ < wave - 1))
      Fs.deleteTree(s"$root/blooms/$n")
  }

  /** Maintenance op: UNSEE a batch of keys (purge fetch-error urls for
    * retry, force-expire pages ahead of their refresh TTL) so the next
    * [[filterUnseen]] lets them through again. The ledger table is
    * append-only bucketed parquet — rewriting it per maintenance batch
    * would cost a full-table job — so unsee writes TOMBSTONES instead:
    * (url_hash, t_wave=`wave`) rows that [[committedFrame]] subtracts
    * (a row dies when a tombstone of the same url carries `t_wave >=` its
    * wave; a LATER re-crawl re-appends at wave > t_wave and is seen again —
    * tombstones never outlive their purpose). [[compact]] applies
    * tombstones physically and clears them.
    *
    * The bloom bank is left as it is: a bloom cannot unlearn, so unseen
    * keys probe positive, fall into the verifying anti-join, and pass
    * because the tombstone removed them from [[committedFrame]]. Exactness
    * never depends on the sketch; a retried key only costs a row of
    * anti-join traffic.
    *
    * The input is restricted to currently-seen keys first (semi-join
    * against [[committedFrame]]), which makes unsee idempotent — a second
    * unsee of the same key finds it already gone and writes nothing.
    *
    * `wave` is the caller's last COMMITTED wave; keys re-appended after it
    * are not affected.
    */
  def unsee(keys: DataFrame, wave: Int): Unit = {
    ensure()
    // materialize BEFORE writing tombstones: `dead` reads committedFrame,
    // which reads the tombstone directory the append below writes into
    val dead = keys.select(col("url_hash").cast("long").as("url_hash")).distinct()
      .join(committedFrame(wave).select("url_hash"), Seq("url_hash"), "left_semi")
      .distinct() // committedFrame keeps at-least-once duplicate appends
      .localCheckpoint(true)
    // empty batch (second unsee of the same keys, or keys never seen):
    // writing a 0-row tombstone file would flip committedFrame onto the
    // subtraction path for nothing — bail before any state changes
    if (dead.isEmpty) return
    dead.withColumn("t_wave", lit(wave).cast("int"))
      .coalesce(1) // maintenance-sized batch; one tombstone file per unsee
      .write.mode(SaveMode.Append).parquet(tombstoneDir)
  }

  /** Exact unseen filter against the committed ledger: bloom-bank pre-filter
    * (negatives skip the join entirely), positives verified by the
    * bucket-aligned anti-join. Falls back to the plain anti-join when the
    * bank outgrows `maxBankBytes` (see class doc).
    */
  def filterUnseen(candidates: DataFrame, upToWave: Int): DataFrame = {
    ensure()
    if (upToWave < 0) return candidates
    val committed = committedFrame(upToWave)
    latestBloomWave(upToWave) match {
      case None =>
        // no (committed) bloom state. The LEDGER is the ground truth — a
        // missing/disabled bank must degrade to the exact anti-join, never
        // to a pass-through (which would re-crawl everything the table
        // remembers). Cheap when the table is actually empty.
        candidates.join(committed.select("url_hash"), Seq("url_hash"), "left_anti")
      case Some(w) =>
        // broadcast-ceiling check from FILE METADATA: collecting first and
        // measuring after would OOM the driver at exactly the scale the
        // fallback exists for
        val bankBytes = Fs.treeBytes(bloomDir(w), ".parquet")
        if (bankBytes > maxBankBytes) {
          // co-partitioned fallback: bucketed scan probes in place
          candidates.join(committed.select("url_hash"), Seq("url_hash"), "left_anti")
        } else {
          val rows = spark.read.parquet(bloomDir(w)).collect()
            .map(r => (r.getAs[Int]("bucket"), r.getAs[Array[Byte]]("bloom")))
          // The bank may lag the table (caller appended waves (w, upToWave]
          // without writeBlooms, or a bloom write crashed): keys committed in
          // that gap probe bloom-NEGATIVE and would bypass the anti-join —
          // silent lost dedup, the worst seen-set failure. Negatives must
          // anti-join the uncovered slice; when the bank is current
          // (w == upToWave, the WaveLoop invariant) this adds nothing.
          val checkNegatives: DataFrame => DataFrame =
            if (w >= upToWave) identity
            else _.join(committed.where(col("wave") > w).select("url_hash"),
              Seq("url_hash"), "left_anti")
          Seen.verifyPositives(candidates, Seen.bloomBankProbe(spark, rows, buckets),
            committed, checkNegatives)
        }
    }
  }

  /** Rewrite the ledger as version+1: one file per bucket, MAX-wave per url
    * (the last committed appearance — this is what [[staleFrontier]]'s age
    * arithmetic needs: a refresh re-append at wave K must survive
    * compaction as wave K, or the page would read as stale again
    * immediately). Membership- and fencing-equivalent for the wave loop's
    * forward-only access pattern: [[filterUnseen]] is always called with
    * `upToWave` ≥ every committed row's wave, so `wave <= upToWave` sees
    * the url either way.
    *
    * `upToWave` bounds which rows are safe to fold: rows of LATER waves
    * (an uncommitted append when compacting outside the loop's own hook)
    * pass through untouched — folding an uncommitted wave into a url's max
    * would un-fence it on crash-resume (the re-run's `wave <= K−1` filter
    * must keep excluding it). The loop's [[maybeCompact]] passes the
    * just-committed wave, where the pass-through arm is empty.
    */
  def compact(upToWave: Int = Int.MaxValue): Unit = {
    ensure()
    val v = currentVersion
    val next = v + 1
    val nextName = tableName(next)
    // idempotent retry: a previous crashed compaction may have left the
    // target table registered and/or its location non-empty — start clean
    // (the version file still points at v, so nothing committed is lost)
    spark.sql(s"DROP TABLE IF EXISTS $nextName")
    Fs.deleteTree(tableLocation(next))
    Fs.mkdirs(tableLocation(next))
    spark.sql(
      s"""CREATE TABLE $nextName
         |  (url_hash BIGINT, canonical_url STRING, wave INT)
         |USING PARQUET
         |CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO $buckets BUCKETS
         |LOCATION '${tableLocation(next)}'""".stripMargin)
    val all = spark.table(tableName(v))
    // tombstones ≤ upToWave are APPLIED here (their dead rows drop out of
    // the fold) and cleared below; later ones pass through untouched
    val hasTombstones = Fs.exists(tombstoneDir)
    val inScope =
      if (!hasTombstones) all.where(col("wave") <= upToWave)
      else Ledger.applyTombstones(all.where(col("wave") <= upToWave),
        spark.read.parquet(tombstoneDir).where(col("t_wave") <= upToWave))
    val folded = inScope
      .groupBy(col("url_hash"), col("canonical_url"))
      .agg(max(col("wave")).as("wave"))
    folded.unionByName(all.where(col("wave") > upToWave))
      .select(col("url_hash"), col("canonical_url"), col("wave").cast("int").as("wave"))
      .repartition(buckets, col("url_hash"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, "url_hash").sortBy("url_hash")
      .saveAsTable(nextName)
    Fs.writeString(versionFile, next.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(v)}")
    Fs.deleteTree(tableLocation(v))
    if (hasTombstones) {
      // consumed tombstones go; a crash BEFORE this point leaves them in
      // place, which is idempotent — re-applying a tombstone against the
      // compacted table matches nothing it hasn't already killed
      val rest = spark.read.parquet(tombstoneDir)
        .where(col("t_wave") > upToWave).localCheckpoint(true)
      if (rest.isEmpty) Fs.deleteTree(tombstoneDir)
      else rest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tombstoneDir)
    }
  }

  /** Wave-loop hook: compact every `compactEvery` committed waves. */
  def maybeCompact(wave: Int): Unit =
    if (compactEvery > 0 && wave > 0 && wave % compactEvery == 0) compact(wave)

  /** Batch refresh-crawl frontier: committed urls whose LAST fetch is at
    * least `maxAgeWaves` waves old, as (url, seed_idx) frontier rows ready
    * to re-enter the wave loop — the batch twin of the streaming TTL
    * seen-filter. seed_idx = [[Scheduler.priorityOrderKey]](age, url_hash
    * folded to the 2^40 seed domain): ordering is oldest-first among
    * refreshes, and every packed refresh key sorts AFTER the plain
    * (< 2^40) discovery seed_idx domain — within a host, new content
    * fetches before re-fetches, by construction rather than by luck.
    *
    * Re-crawling a scheduled refresh row re-appends it at the new wave
    * (the loop appends every committed schedule), which re-stamps its
    * last-fetch age — one re-crawl per TTL window, exactly ([[compact]]
    * keeps max-wave so the stamp survives compaction).
    */
  def staleFrontier(currentWave: Int, maxAgeWaves: Int): DataFrame = {
    require(maxAgeWaves >= 1, s"maxAgeWaves must be >= 1: $maxAgeWaves")
    ensure()
    Ledger.staleFrontierFrom(committedFrame(currentWave), currentWave, maxAgeWaves)
  }

  /** [[staleFrontier]] under per-host TTLs (see
    * [[Ledger.staleFrontierAdaptiveFrom]]).
    */
  def staleFrontierAdaptive(currentWave: Int, hostTtls: DataFrame,
      defaultTtlWaves: Long): DataFrame = {
    ensure()
    Ledger.staleFrontierAdaptiveFrom(committedFrame(currentWave), currentWave,
      hostTtls, defaultTtlWaves)
  }
}

object Ledger {

  /** [[Ledger.staleFrontier]]'s kernel over any (url_hash, canonical_url,
    * wave) frame — split out so the staleness policy is testable (and
    * oracle-checkable: the age arithmetic is pure SQL) without standing up
    * ledger state. One groupBy of 16-byte keys + a projection; the
    * ORDER-KEY arithmetic is in the row, the caller's scheduler does the
    * actual prioritization.
    */
  def staleFrontierFrom(committed: DataFrame, currentWave: Int,
      maxAgeWaves: Int): DataFrame =
    committed
      .groupBy(col("url_hash"), col("canonical_url"))
      .agg(max(col("wave")).as("last_wave"))
      .withColumn("age", lit(currentWave) - col("last_wave"))
      .where(col("age") >= maxAgeWaves)
      .select(
        col("canonical_url").as("url"),
        Scheduler.priorityOrderKey(col("age"), pmod(col("url_hash"), lit(1L << 40)))
          .as("seed_idx"),
        col("age"))

  /** [[staleFrontierFrom]] under PER-HOST TTLs — the adaptive-refresh
    * composition: [[Revisit.ttlFromChangeRates]] turns measured per-host
    * mutation rates into `(host, ttl_waves)`, and a page is stale when
    * its age reaches ITS host's TTL (hosts absent from the table fall to
    * `defaultTtlWaves`). The TTL table is #hosts-sized → one broadcast
    * join on top of the same max-wave groupBy of 16-byte keys.
    */
  def staleFrontierAdaptiveFrom(committed: DataFrame, currentWave: Int,
      hostTtls: DataFrame, defaultTtlWaves: Long): DataFrame = {
    require(defaultTtlWaves >= 1, s"defaultTtlWaves: $defaultTtlWaves")
    committed
      .groupBy(col("url_hash"), col("canonical_url"))
      .agg(max(col("wave")).as("last_wave"))
      .withColumn("age", lit(currentWave) - col("last_wave"))
      .withColumn("__host", graft.functions.host_of(col("canonical_url")))
      .join(broadcast(hostTtls
        .select(col("host").as("__host"), col("ttl_waves"))), Seq("__host"), "left")
      .withColumn("ttl_waves", coalesce(col("ttl_waves"), lit(defaultTtlWaves)))
      .where(col("age") >= col("ttl_waves"))
      .select(
        col("canonical_url").as("url"),
        Scheduler.priorityOrderKey(col("age"), pmod(col("url_hash"), lit(1L << 40)))
          .as("seed_idx"),
        col("age"), col("ttl_waves"))
  }

  /** [[Ledger.unsee]]'s subtraction kernel over any (url_hash, …, wave)
    * frame and (url_hash, t_wave) tombstones — split out so the
    * wave-fencing arithmetic is testable and oracle-checkable without
    * ledger state. A row survives unless SOME tombstone of its url carries
    * `t_wave >= wave` (i.e. the row was committed at or before the unsee);
    * re-appends after the unsee carry a later wave and survive. One
    * BROADCAST left join against the max-t_wave per url (tombstone batches
    * are maintenance-sized by contract), preserving the left side's
    * (bucketed) partitioning.
    */
  def applyTombstones(committed: DataFrame, tombstones: DataFrame): DataFrame = {
    val ts = tombstones.groupBy(col("url_hash"))
      .agg(max(col("t_wave")).as("_ts_t_wave"))
    committed.join(broadcast(ts), Seq("url_hash"), "left")
      .where(col("_ts_t_wave").isNull || col("wave") > col("_ts_t_wave"))
      .drop("_ts_t_wave")
  }

  /** Recursive delete for state roots (benchmarks, tests). */
  def deleteTree(path: String): Unit = graft.core.Fs.deleteTree(path)
}

package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.{sketch_agg, BankSketch, BloomBank, BloomFamily}
import graft.core.{Fs, Rounds}

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
  *  - '''incremental blooms''': wave K's bank = bank K-1 OR the bank of
  *    delta K. The delta bank is one bank aggregate ([[bankSketch]])
  *    over the delta (riding the append as an observed aggregate), the OR
  *    runs on the driver — O(|delta| + buckets). Round 1 re-aggregated the
  *    FULL ledger per wave.
  *  - '''wave column''': appends are at-least-once (a crash between append
  *    and manifest re-appends the delta on resume). Membership semantics
  *    make duplicates harmless, and filtering `wave <= lastCommitted` keeps
  *    a half-committed wave's rows out of its own re-run — the resume
  *    fixture's exactness guarantee.
  *  - '''compaction''' ([[Ledger.compact]]): collapses the per-wave delta
  *    files (one file per bucket per wave) to one file per bucket and
  *    dedups to max-wave per url, bounding file counts on long crawls.
  *
  * Two regimes, fixed at construction: a bank's serialized size is
  * `buckets` × one bloom of (expectedPerBucket, fpp), whatever its fill.
  *  - '''under `maxBankBytes`''': the ledger keeps a bank. The driver
  *    merges it, writes it as one file per wave (`blooms/wave=K`) and
  *    broadcasts it to [[filterUnseen]]'s probe.
  *  - '''over it''' (tens of GB at 10^10 keys cannot broadcast): the
  *    ledger keeps no bank, and [[filterUnseen]] is the plain
  *    bucket-aligned anti-join — in vanilla Spark the bucketed table IS the
  *    co-partitioned probe structure (each task checks candidates against
  *    its own bucket's sorted files).
  *
  * Held bank: the instance keeps the bank rows it last wrote or read,
  * labelled with their wave, and serves that wave from them while its
  * `_SUCCESS` exists. A ledger shared across waves collects no bank in a
  * steady wave; a fresh one (resume, another session) reads it once.
  */
final class Ledger(
    spark: SparkSession,
    val root: String,
    val buckets: Int = 64,
    val expectedPerBucket: Long = 1 << 16,
    val fpp: Double = 1e-2,
    val maxBankBytes: Long = 64L << 20,
    val compactEvery: Int = 8) extends Serializable {

  /** The bank: one bloom of (expectedPerBucket, fpp) per bucket. */
  private val bankSketch = BankSketch(BloomFamily, buckets, expectedPerBucket, fpp)

  /** One empty per-bucket bloom, serialized — the shape every bucket of
    * the bank has (the size is fixed by (expectedPerBucket, fpp)).
    */
  @transient private lazy val emptyBloom: Array[Byte] =
    BloomFamily.encode(bankSketch.emptyFilter())

  private val keepsBank: Boolean = buckets.toLong * emptyBloom.length <= maxBankBytes

  // the held bank (see class doc): the wave it is, and its (bucket, bloom) rows
  @transient private var heldWave: Int = -1
  @transient private var heldRows: Array[(Int, Array[Byte])] = _

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

  private def createTable(version: Int): Unit = spark.sql(
    s"""CREATE TABLE IF NOT EXISTS ${tableName(version)}
       |  (url_hash BIGINT, canonical_url STRING, wave INT)
       |USING PARQUET
       |CLUSTERED BY (url_hash) SORTED BY (url_hash) INTO $buckets BUCKETS
       |LOCATION '${tableLocation(version)}'""".stripMargin)

  /** Appends (url_hash, canonical_url, wave) rows to the table of
    * `version`. `repartition(buckets, url_hash)` uses the same murmur3-pmod
    * layout as the table's bucketing, so every task holds exactly one
    * bucket → ONE file per bucket per write (without it, each task would
    * write a file per bucket it touches: tasks×buckets files).
    */
  private def appendRows(rows: DataFrame, version: Int): Unit =
    rows.repartition(buckets, col("url_hash"))
      .write.mode(SaveMode.Append).format("parquet")
      .bucketBy(buckets, "url_hash").sortBy("url_hash") // must restate the table's spec
      .saveAsTable(tableName(version))

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
    // the insert path LISTS the location before writing — it must exist
    Fs.mkdirs(tableLocation(v))
    if (!spark.catalog.tableExists(tableName(v))) createTable(v)
    // sweep leaked older versions (crash between version bump and cleanup)
    for (old <- 0 until v) {
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(old)}")
      Fs.deleteTree(tableLocation(old))
    }
  }

  private def tombstoneDir = s"$root/tombstones"

  private def readTombstones = spark.read.schema(Ledger.TombstoneSchema).parquet(tombstoneDir)

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
    else Ledger.applyTombstones(base, readTombstones.where(col("t_wave") <= upToWave))
  }

  private def deltaRows(delta: DataFrame, wave: Int): DataFrame =
    delta.select(col("url_hash"), col("canonical_url"), lit(wave).cast("int").as("wave"))

  /** Append one wave's delta: one file per bucket. */
  def append(delta: DataFrame, wave: Int): Unit = {
    ensure()
    appendRows(deltaRows(delta, wave), currentVersion)
  }

  private def bloomDir(wave: Int) = s"$root/blooms/wave=$wave"

  /** The bank committed at `wave` (its `_SUCCESS` checked by the caller):
    * the held rows when they are that wave's, else one collect, then held.
    */
  private def bank(wave: Int): Array[(Int, Array[Byte])] = {
    if (heldRows == null || heldWave != wave)
      hold(wave, spark.read.schema(Ledger.BankSchema).parquet(bloomDir(wave)).collect()
        .map(r => (r.getInt(0), r.getAs[Array[Byte]](1))))
    heldRows
  }

  private def hold(wave: Int, rows: Array[(Int, Array[Byte])]): Unit = {
    heldWave = wave
    heldRows = rows
  }

  /** The whole-bank aggregate over `url_hash`: one bloom per bucket. */
  private def bankAgg: Column = sketch_agg(col("url_hash"), bankSketch)

  /** Commits wave K's bank = bank `prev` OR `delta` (one serialized bloom
    * per bucket), merged on the driver, as ONE file, and holds it. Bloom
    * OR is bitwise-commutative, so the merge order never changes a byte.
    */
  private def commitBank(wave: Int, prev: Option[Int],
      delta: scala.collection.Seq[Array[Byte]]): Unit = {
    val prevRows = prev.map(bank(_).toMap).getOrElse(Map.empty[Int, Array[Byte]])
    val merged = Array.tabulate(buckets) { b =>
      (b, prevRows.get(b) match {
        case Some(p) => BloomFamily.union(p, delta(b))
        case None => delta(b)
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(
        merged.toSeq.map { case (b, by) => Row(b, by) }, 1), Ledger.BankSchema)
      .write.mode(SaveMode.Overwrite).parquet(bloomDir(wave))
    hold(wave, merged)
    dropBanksBefore(wave)
  }

  /** GC: each bank is FULL state, so stale wave dirs accumulate
    * unboundedly on a long crawl. Keep one predecessor for crash-resume (a
    * crash before this wave's manifest re-runs against it), drop
    * everything older.
    */
  private def dropBanksBefore(wave: Int): Unit =
    for (n <- Fs.childNames(s"$root/blooms")
         if n.startsWith("wave=") && n.stripPrefix("wave=").toIntOption.exists(_ < wave - 1))
      Fs.deleteTree(s"$root/blooms/$n")

  /** [[append]] + [[writeBlooms]] in ONE pass over the delta: the delta
    * bank rides the bucketed table append as an `observe()` aggregate
    * (partials computed inside the append's own tasks) and is merged with
    * the previous bank on the driver. A coverage gap takes the two-pass
    * append + writeBlooms (healing must read the table); a ledger over
    * the bank ceiling only appends. The wave loop calls this — at steady
    * state the bank costs no job beyond its one-file write.
    */
  def appendWithBlooms(delta: DataFrame, wave: Int): Unit = {
    if (!keepsBank) return append(delta, wave)
    ensure()
    val prev = latestBloomWave(wave - 1)
    if (prev.getOrElse(-1) < wave - 1) {
      append(delta, wave)
      writeBlooms(delta, wave)
      return
    }
    val obs = org.apache.spark.sql.Observation()
    // ONE whole-bank aggregate (bucket computed once per row): the
    // N-separate-bloom form evaluated N when() children per row and
    // measurably slowed the append it was riding
    appendRows(deltaRows(delta, wave).observe(obs, bankAgg.as("bank")), currentVersion)
    val observed = obs.get
    // an EMPTY delta write surfaces no observed metrics: its bank is empty
    commitBank(wave, prev,
      if (observed.isEmpty) Seq.fill(buckets)(emptyBloom)
      else observed("bank").asInstanceOf[scala.collection.Seq[Array[Byte]]])
  }

  /** Latest materialized bloom state at or before `wave` (committed waves
    * only — the caller passes lastCommitted). Requires the writer's
    * `_SUCCESS` marker: a crash mid-write must read as absent, because a
    * PARTIAL bank would produce bloom false negatives — silently lost
    * dedup, the worst failure mode a seen-set can have.
    */
  private def latestBloomWave(wave: Int): Option[Int] =
    (wave to 0 by -1).find(w => Fs.exists(s"${bloomDir(w)}/_SUCCESS"))

  /** Write wave K's bank = bank K-1 OR the bank of delta K (a no-op on a
    * ledger over the bank ceiling). Cost: one aggregate over the DELTA,
    * merged on the driver with the previous bank — never the full ledger
    * (LedgerSpec pins the records-read bound) — EXCEPT when healing a
    * coverage gap (below), where the same aggregate also reads exactly the
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
  def writeBlooms(delta: DataFrame, wave: Int): Unit = if (keepsBank) {
    ensure() // gap healing reads the table; make sure it exists
    val prev = latestBloomWave(wave - 1)
    val covered = prev.getOrElse(-1)
    val keys =
      if (covered >= wave - 1) delta.select("url_hash")
      else delta.select("url_hash").unionByName(
        committedFrame(wave - 1).where(col("wave") > covered).select("url_hash"))
    commitBank(wave, prev, keys.select(bankAgg).head().getSeq[Array[Byte]](0))
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
    val (dead, rows) = Rounds.materialize(
      keys.select(col("url_hash").cast("long").as("url_hash")).distinct()
        .join(committedFrame(wave).select("url_hash"), Seq("url_hash"), "left_semi")
        .distinct()) // committedFrame keeps at-least-once duplicate appends
    // empty batch (second unsee of the same keys, or keys never seen):
    // writing a 0-row tombstone file would flip committedFrame onto the
    // subtraction path for nothing — skip the write, change no state
    if (rows.head > 0)
      dead.select(col("url_hash"), lit(wave).cast("int").as("t_wave"))
        .coalesce(1) // maintenance-sized batch; one tombstone file per unsee
        .write.mode(SaveMode.Append).parquet(tombstoneDir)
    Rounds.release(dead)
  }

  /** Exact unseen filter against the committed ledger: bloom-bank pre-filter
    * (negatives skip the join entirely), positives verified by the
    * bucket-aligned anti-join. A ledger over the bank ceiling, or one with
    * no committed bank yet, runs the plain anti-join (see class doc).
    */
  def filterUnseen(candidates: DataFrame, upToWave: Int): DataFrame = {
    ensure()
    if (upToWave < 0) return candidates
    val committed = committedFrame(upToWave)
    (if (keepsBank) latestBloomWave(upToWave) else None) match {
      case None =>
        // no bank. The LEDGER is the ground truth — a missing bank must
        // degrade to the exact anti-join (the bucketed scan probes in
        // place), never to a pass-through (which would re-crawl everything
        // the table remembers). Cheap when the table is actually empty.
        candidates.join(committed.select("url_hash"), Seq("url_hash"), "left_anti")
      case Some(w) =>
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
        Seen.verifyPositives(candidates,
          Seen.bankProbe(new BloomBank(spark.sparkContext.broadcast(bank(w))), buckets),
          committed, checkNegatives)
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
    // idempotent retry: a previous crashed compaction may have left the
    // target table registered and/or its location non-empty — start clean
    // (the version file still points at v, so nothing committed is lost)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(next)}")
    Fs.deleteTree(tableLocation(next))
    Fs.mkdirs(tableLocation(next))
    createTable(next)
    val all = spark.table(tableName(v))
    // tombstones ≤ upToWave are APPLIED here (their dead rows drop out of
    // the fold) and cleared below; later ones pass through untouched
    val hasTombstones = Fs.exists(tombstoneDir)
    val inScope =
      if (!hasTombstones) all.where(col("wave") <= upToWave)
      else Ledger.applyTombstones(all.where(col("wave") <= upToWave),
        readTombstones.where(col("t_wave") <= upToWave))
    val folded = inScope
      .groupBy(col("url_hash"), col("canonical_url"))
      .agg(max(col("wave")).as("wave"))
    appendRows(folded.unionByName(all.where(col("wave") > upToWave))
      .select(col("url_hash"), col("canonical_url"), col("wave").cast("int").as("wave")), next)
    Fs.writeString(versionFile, next.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${tableName(v)}")
    Fs.deleteTree(tableLocation(v))
    if (hasTombstones) {
      // consumed tombstones go; a crash BEFORE this point leaves them in
      // place, which is idempotent — re-applying a tombstone against the
      // compacted table matches nothing it hasn't already killed
      val (rest, rows) = Rounds.materialize(readTombstones.where(col("t_wave") > upToWave))
      if (rows.head == 0) Fs.deleteTree(tombstoneDir)
      else rest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tombstoneDir)
      Rounds.release(rest)
    }
  }

  /** Wave-loop hook: compact every `compactEvery` committed waves. */
  def maybeCompact(wave: Int): Unit =
    if (compactEvery > 0 && wave > 0 && wave % compactEvery == 0) compact(wave)

  /** Batch refresh-crawl frontier: committed urls whose LAST fetch is at
    * least `maxAgeWaves` waves old, as (url, seed_idx) frontier rows ready
    * to re-enter the wave loop. seed_idx =
    * [[Scheduler.priorityOrderKey]](age, url_hash folded to the 2^40 seed
    * domain): ordering is oldest-first among
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

  /** The bloom bank: one serialized bloom per bucket. */
  val BankSchema: StructType = StructType.fromDDL("bucket INT NOT NULL, bloom BINARY NOT NULL")
  /** An unsee batch ([[Ledger.unsee]]). */
  val TombstoneSchema: StructType = StructType.fromDDL("url_hash BIGINT, t_wave INT")

  /** [[Ledger.staleFrontier]]'s kernel over any (url_hash, canonical_url,
    * wave) frame — split out so the staleness policy is testable (and
    * oracle-checkable: the age arithmetic is pure SQL) without standing up
    * ledger state. One groupBy of 16-byte keys + a projection; the
    * ORDER-KEY arithmetic is in the row, the caller's scheduler does the
    * actual prioritization.
    */
  def staleFrontierFrom(committed: DataFrame, currentWave: Int,
      maxAgeWaves: Int): DataFrame =
    withAge(committed, currentWave)
      .where(col("age") >= maxAgeWaves)
      .select(refreshCols: _*)

  private def withAge(committed: DataFrame, currentWave: Int): DataFrame =
    committed
      .groupBy(col("url_hash"), col("canonical_url"))
      .agg(max(col("wave")).as("last_wave"))
      .withColumn("age", lit(currentWave) - col("last_wave"))

  private def refreshCols: Seq[Column] = Seq(
    col("canonical_url").as("url"),
    Scheduler.priorityOrderKey(col("age"), pmod(col("url_hash"), lit(1L << 40))).as("seed_idx"),
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
    withAge(committed, currentWave)
      .withColumn("__host", graft.functions.host_of(col("canonical_url")))
      .join(broadcast(hostTtls
        .select(col("host").as("__host"), col("ttl_waves"))), Seq("__host"), "left")
      .withColumn("ttl_waves", coalesce(col("ttl_waves"), lit(defaultTtlWaves)))
      .where(col("age") >= col("ttl_waves"))
      .select(refreshCols :+ col("ttl_waves"): _*)
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

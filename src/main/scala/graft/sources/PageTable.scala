package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Fs

/** The north-rule input table — "Iceberg table of Common-Crawl-style web
  * pages with columns (url, warc_ts, html, text, lang)" — realized as
  * hash-bucketed, snapshot-versioned Parquet behind a thin interface, because
  * no Iceberg jar ships in this environment (SURVEY.md §0, §7.3). The
  * semantics Iceberg would give are preserved so a later swap is mechanical:
  *
  *  - fixed schema, enforced on write;
  *  - layout partitioned by `bucket = pmod(hash(url), buckets)` so url-keyed
  *    reads/joins prune to one directory per key and a frontier⋈pages join
  *    can be bucket-aligned;
  *  - snapshot isolation: every commit writes `snap=<k>/` then a marker file;
  *    readers resolve the latest committed snapshot — readers never see a
  *    half-written commit (Iceberg's metadata-pointer swap, poor man's form);
  *  - column pruning friendliness: `html` (the fat binary) lives in the same
  *    row but frontier-side queries select around it and the Parquet reader
  *    never materializes it (verified via ReadSchema in the plan).
  */
object PageTable {

  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  // commit markers go through graft.core.Fs (Hadoop FS from the root's
  // scheme): they are what makes a snapshot visible, so they must live on
  // the same store as the snapshot files — java.nio.file would pin the
  // table's committed-ness to one driver's local disk
  private def snapDir(root: String, snap: Int) = s"$root/snap=$snap"
  private[graft] def marker(root: String, snap: Int) = f"$root/_committed_$snap%05d"

  def committedSnapshots(root: String): Seq[Int] =
    Fs.childNames(root)
      .filter(_.startsWith("_committed_"))
      .map(_.stripPrefix("_committed_").toInt)
      .sorted

  /** Append-style commit: writes a NEW snapshot containing `pages` (schema
    * enforced, bucket column added), then the commit marker. Readers of
    * `latest` flip atomically with the marker file.
    */
  /** Column-metadata key carrying the layout's bucket count on the `bucket`
    * column of frames produced by [[read]]. Pruning code derives the count
    * from here instead of trusting a caller-supplied parameter: recomputing
    * bucket ids with the WRONG modulus silently prunes away matching pages
    * (false 404s, lost links) — the table's own layout is the only
    * authority.
    */
  val BucketCountKey = "graft.pagetable.buckets"

  def commit(spark: SparkSession, root: String, pages: DataFrame,
      buckets: Int = 64): Int = {
    val snap = nextSnap(root, pages, buckets)
    writeData(pages, snapDir(root, snap), buckets)
    writeMarker(root, snap, buckets, Seq(s"snap=$snap"))
    snap
  }

  /** APPEND commit — the other half of the Iceberg-swap promise: snapshot
    * k = snapshot k−1's data files PLUS the delta's, with NOTHING
    * rewritten. The marker is the manifest list: it names the directories
    * composing the snapshot, so an append is one delta write + one marker
    * (metadata-only reuse of every earlier file), and a [[read]] of any
    * older version keeps reading exactly the files it always did.
    *
    * Row-level append semantics (like Iceberg's AppendFiles): a url
    * re-appended in a later delta appears twice in the latest snapshot —
    * deduplicate/upsert is the READER's policy (e.g. max-warc_ts per url),
    * not silently the table's.
    */
  def append(spark: SparkSession, root: String, delta: DataFrame,
      buckets: Int = 64): Int = {
    val snaps = committedSnapshots(root)
    if (snaps.isEmpty) return commit(spark, root, delta, buckets)
    val snap = nextSnap(root, delta, buckets)
    writeData(delta, s"$root/delta=$snap", buckets)
    writeMarker(root, snap, buckets, dirsOf(root, snaps.last) :+ s"delta=$snap")
    snap
  }

  private def nextSnap(root: String, pages: DataFrame, buckets: Int): Int = {
    require(pages.columns.toSet == schema.fieldNames.toSet,
      s"schema mismatch: ${pages.columns.mkString(",")} vs ${schema.fieldNames.mkString(",")}")
    val snaps = committedSnapshots(root)
    snaps.lastOption.foreach { last =>
      val prev = bucketCount(root, last)
      require(prev == buckets,
        s"page table at $root is laid out with $prev buckets; appending a snapshot " +
          s"with $buckets would make derived-bucket pruning wrong — the bucket count " +
          "is part of the on-disk format")
    }
    snaps.lastOption.getOrElse(-1) + 1
  }

  private def writeData(pages: DataFrame, dir: String, buckets: Int): Unit =
    pages.select(schema.fieldNames.map(col): _*)
      .withColumn("bucket", bucketOf(col("url"), buckets))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(dir)

  private def writeMarker(root: String, snap: Int, buckets: Int,
      dirs: Seq[String]): Unit = {
    Fs.mkdirs(root)
    Fs.writeString(marker(root, snap),
      s"""{"snapshot":$snap,"buckets":$buckets,""" +
        s""""dirs":[${dirs.map(d => s""""$d"""").mkString(",")}]}""")
  }

  /** Directories composing a committed snapshot (its manifest list).
    * Markers from before the append feature carry no `dirs` — they were
    * only ever written as full snapshots.
    */
  private def dirsOf(root: String, snap: Int): Seq[String] = {
    val txt = Fs.readString(marker(root, snap))
    "\"dirs\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(s"snap=$snap"))
  }

  /** Bucket count a snapshot was committed with (from its commit marker).
    * Pre-round-3 markers carry no count; they were only ever written with
    * the default 64.
    */
  def bucketCount(root: String, snap: Int): Int = {
    val txt = Fs.readString(marker(root, snap))
    "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt).getOrElse(64)
  }

  /** Latest committed snapshot, or time travel: `snapshot = Some(k)`
    * reads the table exactly as of committed version k — resolved through
    * that version's marker (manifest list), so the read is immune to any
    * LATER append/commit activity, including appends that reuse its files.
    * The returned frame's `bucket` column carries the layout's bucket count
    * as column metadata ([[BucketCountKey]]) so downstream pruning derives
    * the modulus from the data, never from an independent parameter.
    */
  def read(spark: SparkSession, root: String, snapshot: Option[Int] = None): DataFrame = {
    val snaps = committedSnapshots(root)
    require(snaps.nonEmpty, s"no committed snapshot under $root")
    val snap = snapshot.getOrElse(snaps.last)
    require(snaps.contains(snap), s"snapshot $snap not committed")
    val md = new MetadataBuilder().putLong(BucketCountKey, bucketCount(root, snap)).build()
    // one scan per manifest dir, unioned: a single multi-path read trips
    // Spark's partition discovery (snap=K vs delta=K dir names conflict);
    // partition filters (`bucket`) still push through the union into each
    // scan, so pruning is unaffected
    val df = dirsOf(root, snap).map(d => spark.read.parquet(s"$root/$d"))
      .reduce(_.unionByName(_))
    df.withColumn("bucket", col("bucket").as("bucket", md))
  }

  /** Incremental scan (Iceberg's "changes between snapshots"): ONLY the
    * rows `version` added over the previous committed version — the
    * manifest-list DIFF, so an incremental consumer (bloom maintenance,
    * downstream re-extraction, refresh detection) reads the delta files
    * and nothing else. For an [[append]] version that is the delta dir;
    * for a full [[commit]] the whole new snapshot IS the change set; for
    * the first version it equals [[read]] of that version.
    */
  def changesOf(spark: SparkSession, root: String, version: Int): DataFrame = {
    val snaps = committedSnapshots(root)
    require(snaps.contains(version), s"snapshot $version not committed")
    val newDirs = snaps.filter(_ < version).lastOption match {
      case None => dirsOf(root, version)
      case Some(prev) => dirsOf(root, version).diff(dirsOf(root, prev))
    }
    val md = new MetadataBuilder().putLong(BucketCountKey, bucketCount(root, version)).build()
    require(newDirs.nonEmpty, s"snapshot $version adds no directories") // cannot happen: every commit/append writes one
    newDirs.map(d => spark.read.parquet(s"$root/$d")).reduce(_.unionByName(_))
      .withColumn("bucket", col("bucket").as("bucket", md))
  }

  /** Bucket count recorded in a frame's `bucket` column metadata (present on
    * frames from [[read]]); callers fall back to their parameter when the
    * frame was assembled by hand.
    */
  def bucketCountOf(pages: DataFrame): Option[Int] = {
    val idx = pages.schema.fieldNames.indexOf("bucket")
    if (idx < 0) None
    else {
      val md = pages.schema(idx).metadata
      if (md.contains(BucketCountKey)) Some(md.getLong(BucketCountKey).toInt) else None
    }
  }

  /** Table maintenance (Iceberg's expire_snapshots): drop all committed
    * versions OLDER than the newest `keepLast`, then delete every data
    * directory no surviving manifest references. Markers go first (a crash
    * mid-expiry leaves unreferenced dirs — wasted space, never a broken
    * reader); dirs referenced by ANY surviving version stay, so appends'
    * shared files survive as long as one reader can reach them.
    * Returns (expired versions, deleted dirs).
    */
  def expireSnapshots(root: String, keepLast: Int): (Seq[Int], Seq[String]) = {
    require(keepLast >= 1, s"keepLast: $keepLast")
    val snaps = committedSnapshots(root)
    val (drop, keep) = snaps.splitAt(math.max(0, snaps.length - keepLast))
    if (drop.isEmpty) return (Seq.empty, Seq.empty)
    val keepDirs = keep.flatMap(v => dirsOf(root, v)).toSet
    val dropDirs = drop.flatMap(v => dirsOf(root, v)).distinct.filterNot(keepDirs)
    drop.foreach(v => Fs.deleteIfExists(marker(root, v)))
    dropDirs.foreach(d => Fs.deleteTree(s"$root/$d"))
    (drop, dropDirs)
  }

  /** The layout's url → bucket column. */
  private def bucketOf(url: Column, buckets: Int): Column = pmod(hash(url), lit(buckets))

  /** `url`'s bucket in the layout of `pages`: the modulus from the table's
    * own metadata when present — a caller-supplied count that disagrees
    * with the committed layout would prune away MATCHING pages (false 404s
    * / lost links) — else `buckets`. None for frames without the `bucket`
    * column (nothing to prune).
    */
  def bucketIn(pages: DataFrame, url: Column, buckets: Int): Option[Column] =
    if (pages.columns.contains("bucket"))
      Some(bucketOf(url, bucketCountOf(pages).getOrElse(buckets)))
    else None

  /** Static bucket pruning of a [[read]] frame to the DISTINCT derived
    * buckets of a url-keyed frame, so a selective wave reads only its
    * buckets. (Dynamic partition pruning doesn't fire: it wants a
    * selective predicate on the frontier side — measured.) The set is
    * `keyBuckets` when the caller observed it on the write that made the
    * keys, else one cheap collect. No-op for frames without the `bucket`
    * column.
    */
  def pruneTo(pages: DataFrame, keys: DataFrame, urlCol: String,
      buckets: Int = 64, keyBuckets: Option[Seq[Int]] = None): DataFrame =
    bucketIn(pages, col(urlCol), buckets).fold(pages) { b =>
      val in = keyBuckets.getOrElse(keys.select(b).distinct().collect().map(_.getInt(0)).toSeq)
      pages.where(col("bucket").isin(in: _*))
    }

  /** Fetch replay: frontier(url, …) ⋈ pages ON url — the rebuild's analogue
    * of the reference's `driver.get(url)` (`web_scraper_pipeline.py:61`):
    * at 100 TB this is a bucket-aligned join; at test scale Catalyst
    * broadcasts whichever side is small. `html` only enters the plan when
    * `withHtml` asks for it — column pruning keeps the fat binary out of
    * frontier-only scans. The pages side is bucket-pruned to the
    * frontier's buckets ([[pruneTo]]).
    */
  def fetch(frontier: DataFrame, pages: DataFrame, withHtml: Boolean = true,
      buckets: Int = 64): DataFrame = {
    val cols = if (withHtml) Seq("url", "warc_ts", "html", "text", "lang")
      else Seq("url", "warc_ts", "text", "lang")
    frontier.join(pruneTo(pages, frontier, "url", buckets).select(cols.map(col): _*),
      Seq("url"), "left")
  }
}

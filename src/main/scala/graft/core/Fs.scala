package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Engine-state I/O through the Hadoop FileSystem API — never
  * `java.nio.file`. The ledger's version/params files, the wave loop's
  * manifests, and the page table's commit markers are ENGINE state that
  * must live next to the data they describe: on a real deployment the
  * state root is `hdfs://` or `s3a://`, where `java.nio.file` silently
  * reads/writes the driver's LOCAL disk instead — the ledger would not
  * even initialize. Resolving the filesystem from each path's scheme
  * (same pattern as the IVF centroid sidecar, [[graft.ann.Ann]]) makes a
  * local root behave exactly as before while a remote root just works.
  *
  * All of these are driver-side metadata operations (a handful of small
  * files per commit), so per-call `FileSystem` resolution — cached by
  * Hadoop per (scheme, conf) — costs nothing next to the jobs they fence.
  */
object Fs {

  /** Active session's Hadoop conf when one exists (picks up `s3a.*` etc.
    * settings the user configured on the session); vanilla conf otherwise
    * (pure-local callers such as test utilities before a session starts).
    */
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(path: String): Boolean = { val p = new Path(path); fsOf(p).exists(p) }

  def mkdirs(path: String): Unit = { val p = new Path(path); fsOf(p).mkdirs(p); () }

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), UTF_8)
    finally in.close()
  }

  /** Create-or-overwrite. Like the commit protocols built on it, relies on
    * the store making the written file visible atomically at close (rename
    * on HDFS-like stores, object-PUT on S3-like ones).
    */
  def writeString(path: String, s: String): Unit = {
    val p = new Path(path)
    val out = fsOf(p).create(p, true)
    try out.write(s.getBytes(UTF_8))
    finally out.close()
  }

  /** Recursive delete; absent path is a no-op. */
  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  def deleteIfExists(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** Immediate child names of a directory (empty when absent / not a dir).
    * Hadoop's checksummed local FS hides its own `.crc` siblings here.
    */
  def childNames(path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }
}

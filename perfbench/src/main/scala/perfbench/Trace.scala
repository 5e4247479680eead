package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task-metric totals of one attribution key (a layer). */
final class Totals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleBlocks = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Wall time of the key's jobs, start to end (jobs run one at a time). */
  var jobWallMs = 0L
  /** max/median task run time of the widest-skewed stage (stages with ≥ 4 tasks). */
  var taskSkew = 0.0
  def busyS: Double = runMs / 1e3
}

/** Attributes task metrics to layers.
  *
  * A job is attributed to the job group the benchmark set around the layer
  * call. Jobs without a group (those `WaveLoop.run` launches internally) are
  * attributed by the source file of their call site ("parquet at
  * Ledger.scala:180" → `site:Ledger`): the call site of the SQL execution
  * the job belongs to, else the one Spark records in the stage name.
  *
  * Shuffle blocks are counted on the read side: every non-empty map-output
  * block a reduce task fetches (local + remote), i.e. the map tasks ×
  * reduce partitions fan-out that actually carried data.
  */
final class Meter extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val totals = new ConcurrentHashMap[String, Totals]()
  private val cached = ConcurrentHashMap.newKeySet[String]()
  @volatile var cachedBlocksMax = 0L
  @volatile var jobsStarted = 0L
  @volatile var stagesCompleted = 0L
  @volatile var tasksSeen = 0L
  @volatile private var failedSeen = 0L

  private def of(key: String): Totals = totals.computeIfAbsent(key, _ => new Totals)

  private val CallSiteFile = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // adaptive query stages run their jobs from a thread pool, so their own
    // call site is Spark's; the SQL execution they belong to keeps the caller's
    val site = prop("spark.sql.execution.id").flatMap(id => Option(execSite.get(id.toLong)))
      .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse(""))
    val key = prop("spark.jobGroup.id").getOrElse(site match {
      case CallSiteFile(file) => "site:" + file
      case _ => "site:other"
    })
    of(key).jobs += 1
    jobKey.put(e.jobId, (key, e.time))
    e.stageIds.foreach(id => stageKey.putIfAbsent(id, key))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobKey.remove(e.jobId)).foreach { case (key, t0) => of(key).jobWallMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesCompleted += 1
    val id = e.stageInfo.stageId
    val key = stageKey.getOrDefault(id, "site:?")
    val t = of(key)
    t.stages += 1
    val times = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    if (times.size >= 4) {
      val med = math.max(1L, times(times.size / 2))
      t.taskSkew = math.max(t.taskSkew, times.last.toDouble / med)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = stageKey.getOrDefault(e.stageId, "site:?")
    val t = of(key)
    t.tasks += 1
    tasksSeen += 1
    if (e.taskInfo != null && (e.taskInfo.failed || e.taskInfo.killed)) { t.failedTasks += 1; failedSeen += 1 }
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      t.shuffleBlocks += m.shuffleReadMetrics.localBlocksFetched + m.shuffleReadMetrics.remoteBlocksFetched
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      if (b.storageLevel.isValid) cached.add(b.blockId.name) else cached.remove(b.blockId.name)
      val n = cached.size.toLong
      if (n > cachedBlocksMax) cachedBlocksMax = n
    }
  }

  /** Snapshot of all totals (after draining the listener bus). */
  def snapshot(sc: SparkContext): Map[String, Totals] = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    synchronized { totals.asScala.toMap.map { case (k, v) => k -> copy(v) } }
  }

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    synchronized { totals.clear(); stageTaskMs.clear() }
  }

  /** Failed or killed tasks over the whole run (not cleared by [[reset]]). */
  def failedTasks(sc: SparkContext): Long = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    failedSeen
  }

  private def copy(t: Totals): Totals = {
    val c = new Totals
    c.jobs = t.jobs; c.stages = t.stages; c.tasks = t.tasks; c.failedTasks = t.failedTasks
    c.runMs = t.runMs; c.cpuNs = t.cpuNs; c.gcMs = t.gcMs
    c.shuffleWriteBytes = t.shuffleWriteBytes; c.shuffleWriteNs = t.shuffleWriteNs; c.shuffleBlocks = t.shuffleBlocks
    c.fetchWaitMs = t.fetchWaitMs; c.spillBytes = t.spillBytes
    c.inputBytes = t.inputBytes; c.outputBytes = t.outputBytes; c.taskSkew = t.taskSkew
    c.jobWallMs = t.jobWallMs
    c
  }
}

object Totals {
  def sum(ts: Iterable[Totals]): Totals = {
    val s = new Totals
    ts.foreach { t =>
      s.jobs += t.jobs; s.stages += t.stages; s.tasks += t.tasks; s.failedTasks += t.failedTasks
      s.runMs += t.runMs; s.cpuNs += t.cpuNs; s.gcMs += t.gcMs
      s.shuffleWriteBytes += t.shuffleWriteBytes; s.shuffleWriteNs += t.shuffleWriteNs; s.shuffleBlocks += t.shuffleBlocks
      s.fetchWaitMs += t.fetchWaitMs; s.spillBytes += t.spillBytes
      s.inputBytes += t.inputBytes; s.outputBytes += t.outputBytes; s.jobWallMs += t.jobWallMs
      s.taskSkew = math.max(s.taskSkew, t.taskSkew)
    }
    s
  }
}

/** A span around one call into a layer: name, start, end (ns), parent span
  * id and run id. Kept in memory and written out when the run ends.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, run: String) {
  def durS: Double = (endNs - startNs) / 1e9
}

final class Tracer(val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  /** Run `body` inside a span. With `sc` given, the span's jobs carry its
    * name as their job group; such spans are leaves (layer calls), so the
    * group is simply cleared on exit.
    */
  def span[T](name: String, sc: Option[SparkContext] = None)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.foreach(_.setJobGroup(name, name, interruptOnCancel = false))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.foreach(_.clearJobGroup())
      stack = stack.tail
      spans += Span(id, name, t0, t1, parent, run)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: duration minus the part covered by children. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil).map(_.durS).sum
        math.max(0.0, s.durS - covered)
      }.sum
    }
  }

  def json: String = Json.arr(spans.toSeq.map(s => Json.obj(Seq(
    "id" -> s.id.toString, "name" -> Json.str(s.name),
    "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
    "parent" -> s.parent.toString, "run" -> Json.str(s.run)))))
}

package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The one profiler: wall time, a per-stage trace and the plan of any
  * declared query or headline shape, printed as ONE JSON document per run.
  *
  * Names are [[SparkEntry.queries]] keys plus the [[BenchQueries.all]]
  * shapes as `bench_<name>`; no names means all of them, and an unknown
  * name fails before any job runs. Each query gets one warm-up and
  * `Runs` timed runs through the noop sink, which computes every column of
  * every row and discards it — so the number is the computation, not a
  * collect. Every stage of the fastest timed run is reported, and
  * `utilization` is that run's summed task run time over (wall × cores).
  * A query that throws reports an `error` instead.
  *
  * Usage: `sbt "runMain graft.Profile q45_cluster_dedup bench_frontier_schedule"`.
  * `SPARK_GRAFT_SF_DIR` selects the data, `SPARK_GRAFT_CPUS` the local
  * cores (default: every core of the machine).
  */
object Profile {
  private val Runs = 3

  private def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1) ++
      BenchQueries.all.map { case (n, f) => (s"bench_$n", f) }

  /** Completed stages, bucketed by the job description they ran under. */
  private final class StageTrace extends SparkListener {
    private val labels = new ConcurrentHashMap[Int, String]()
    private val stages = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StageInfo]]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .foreach(labels.put(e.stageInfo.stageId, _))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(labels.remove(e.stageInfo.stageId)).foreach(label =>
        stages.computeIfAbsent(label, _ => new ConcurrentLinkedQueue[StageInfo]())
          .add(e.stageInfo))
    /** The stages run under `label`; forgets every label seen so far. */
    def take(label: String): Seq[StageInfo] = {
      val picked = Option(stages.get(label)).map(_.asScala.toSeq.sortBy(_.stageId))
      stages.clear()
      picked.getOrElse(Nil)
    }
  }

  private def stageJson(i: StageInfo): JValue = {
    val m = i.taskMetrics
    JObject(
      "id" -> JLong(i.stageId),
      "name" -> JString(i.name.takeWhile(_ != '\n')),
      "tasks" -> JLong(i.numTasks),
      "wall_ms" -> JLong((for (c <- i.completionTime; s <- i.submissionTime) yield c - s)
        .getOrElse(-1L)),
      "run_ms" -> JLong(m.executorRunTime),
      "cpu_ms" -> JLong(m.executorCpuTime / 1000000),
      "gc_ms" -> JLong(m.jvmGCTime),
      "deserialize_ms" -> JLong(m.executorDeserializeTime),
      "fetch_wait_ms" -> JLong(m.shuffleReadMetrics.fetchWaitTime),
      "shuffle_write_ms" -> JLong(m.shuffleWriteMetrics.writeTime / 1000000),
      "shuffle_records_read" -> JLong(m.shuffleReadMetrics.recordsRead),
      "input_records" -> JLong(m.inputMetrics.recordsRead),
      "output_records" -> JLong(m.outputMetrics.recordsWritten))
  }

  private def profile(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, trace: StageTrace): JValue = {
    val sc = spark.sparkContext
    def timed(label: String): (Double, DataFrame) = {
      sc.setJobDescription(label)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, df)
    }
    val warmup = timed(s"profile warmup: $name")._1
    val labels = (0 until Runs).map(i => s"profile[$i]: $name")
    val runs = labels.map(timed)
    ListenerBridge.drain(sc)
    val best = runs.indices.minBy(runs(_)._1)
    val stages = trace.take(labels(best))
    val (sec, df) = runs(best)
    JObject(
      "min_s" -> JDouble(sec),
      "runs_s" -> JArray(runs.map(r => JDouble(r._1)).toList),
      "warmup_s" -> JDouble(warmup),
      "utilization" -> JDouble(
        stages.map(_.taskMetrics.executorRunTime).sum / 1000.0 / (sec * sc.defaultParallelism)),
      "stages" -> JArray(stages.map(stageJson).toList),
      "plan" -> JString(df.queryExecution.explainString(FormattedMode)))
  }

  def run(spark: SparkSession, sfDir: String, names: Seq[String]): String = {
    val known = queries
    val unknown = names.filterNot(known.map(_._1).toSet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val wanted = if (names.isEmpty) known else known.filter { case (n, _) => names.contains(n) }
    val sc = spark.sparkContext
    val trace = new StageTrace
    sc.addSparkListener(trace)
    try {
      val profiles = wanted.map { case (name, fn) =>
        name -> (try profile(spark, sfDir, name, fn, trace)
          catch { case NonFatal(e) => JObject("error" -> JString(e.toString)) })
      }
      compact(render(JObject(
        "metric" -> JString("profile"),
        "sf" -> JString(sfDir),
        "cores" -> JLong(sc.defaultParallelism),
        "queries" -> JObject(profiles.toList))))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(trace)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = BenchQueries.session(cpus)
    try println(Profile.run(spark, sfDir, args.toSeq)) finally spark.stop()
  }
}

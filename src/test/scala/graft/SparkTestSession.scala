package graft

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites share it; Spark
  * session startup dominates test wall-clock otherwise).
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One job a block started: the names of its stages (a stage is named
    * after its call site, e.g. `parquet at WaveLoop.scala:188`), and the
    * call site of the SQL execution it ran under, if any. Under AQE a SQL
    * job's stages are named after the adaptive executor's thread, so the
    * execution's call site (e.g. `collect at PageTable.scala:242`) is the
    * one that names the program line.
    */
  final case class Job(stageNames: Seq[String], execution: Option[Long],
      sqlCallSite: Option[String]) {
    def sql: Boolean = execution.nonEmpty

    /** A Parquet read's footer scan: a plain RDD job outside any SQL
      * execution (a Parquet WRITE is named `parquet at …` too, but runs
      * under its query's execution).
      */
    def schemaInference: Boolean = !sql && stageNames.exists(_.startsWith("parquet at "))
  }

  /** Runs `f` and returns its value plus the RDDs it left persisted, local
    * checkpoints included, as id → description (e.g.
    * `MapPartitionsRDD[42] at localCheckpoint at Scheduler.scala:76`).
    */
  def persistedDuring[A](f: => A): (A, Map[Int, String]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = f
    (out, sc.getPersistentRDDs.collect { case (id, r) if !before(id) => id -> r.toString }.toMap)
  }

  /** Runs `f` and returns its value plus the jobs it started, in start
    * order. The listener bus is drained on both sides, so jobs started
    * before `f` are not counted.
    */
  def jobsDuring[A](f: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs.add(Job(e.stageInfos.map(_.name), execution, execution.flatMap(id => Option(sites.get(id)))))
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      ListenerBridge.drain(sc)
      (out, jobs.toArray(Array.empty[Job]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

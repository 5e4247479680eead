package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** Round mechanics of the iterative operators ([[graft.frontier.Rank]],
  * [[graft.dedup.Components]], [[graft.frontier.Redirects]],
  * [[graft.text.Bpe]]) and the wave loop: each round's frame is a local
  * checkpoint (the plan does not grow with the round count) whose row
  * count and loop-control aggregates ride its own pass ([[materialize]]);
  * its shuffles are right-sized ([[width]]); and once round N is
  * materialized the checkpoints only earlier rounds read are released
  * ([[release]]), so storage does not grow with rounds.
  */
object Rounds {

  /** Shuffle width for a round over `rows` rows: one partition per 250k
    * rows, capped at the session's shuffle partitions. At full width
    * the per-task fixed costs of a round's tiny shuffle stages dominate
    * (measured 17.3 s → 3.4 s on a 34k-edge components input, 128 → 1) —
    * what AQE coalescing does, explicit because sessions tuned for wide
    * scans often disable it. Callers apply it with explicit
    * key-repartitions: a session-conf change would narrow every query
    * planned concurrently in the same session.
    */
  def width(spark: SparkSession, rows: Long): Int = {
    val session = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
    math.max(1L, math.min(session.toLong, rows / 250000L + 1L)).toInt
  }

  /** Eager local checkpoint of `df` and (row count, aggs…) observed on its
    * own pass — no extra job. `aggs` are integral; NULL reads 0.
    */
  def materialize(df: DataFrame, aggs: Column*): (DataFrame, Seq[Long]) = {
    val obs = Observation()
    val named = (count(lit(1)) +: aggs).zipWithIndex.map { case (a, i) => a.as(s"m$i") }
    val out = df.observe(obs, named.head, named.tail: _*).localCheckpoint(true)
    (out, named.indices.map(i => observed(obs, s"m$i")))
  }

  /** An observed integral metric. A sum over zero rows is NULL, and a pass
    * over zero rows observes nothing at all: either way it reads 0.
    */
  def observed(obs: Observation, name: String): Long =
    obs.get.get(name).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Number].longValue)

  /** Unpersist the local checkpoints `df` reads that no `keep` frame reads:
    * for a superseded round, the checkpoint it is. Nothing may read them
    * afterwards. Runs no job.
    */
  def release(df: DataFrame, keep: Seq[DataFrame] = Nil): Unit = {
    def checkpoints(d: DataFrame) =
      d.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    val kept = keep.flatMap(checkpoints).map(_.id).toSet
    checkpoints(df).filterNot(r => kept(r.id)).foreach(_.unpersist(blocking = false))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedicated PageRank and TrustRank loops as they were before both
  * became one power iteration over [[graft.core.Rounds]] — kept verbatim
  * (doc comments trimmed) as the reference `RankSpec` holds
  * [[graft.frontier.Rank.pageRank]] and [[graft.frontier.Rank.trustRank]]
  * `Double`-exact against.
  */
object RankReference {

  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val out = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (out, obs.get("n").asInstanceOf[Long])
  }

  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 3, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    require(damping > 0.0 && damping < 1.0, s"damping: $damping")
    val spark = edges.sparkSession
    val sessionWidth = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
    val (e, nEdges) = checkpointCounted(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
        weightCol.map(col(_).cast("double")).getOrElse(lit(1.0d)).as("w")))
    val width = math.max(1L, math.min(sessionWidth.toLong, nEdges / 250000L + 1L)).toInt
    val deg = e.repartition(width, col("src"))
      .groupBy("src").agg(sum(col("w")).as("outw"))
    val withDeg = e.join(deg, "src").localCheckpoint(true) // read every round
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .repartition(width, col("node"))
      .distinct()
      .localCheckpoint(true)
    var scores = nodes.withColumn("score", lit(1.0d))
    var it = 0
    while (it < iters) {
      val contrib = withDeg
        .join(scores.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          (col("score") * col("w") / col("outw")).as("c"))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      scores = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0d - damping) + lit(damping) * coalesce(col("c"), lit(0.0d))).as("score"))
        .localCheckpoint(true)
      it += 1
    }
    scores
  }

  def trustRank(edges: DataFrame, seeds: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", seedCol: String = "node",
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    require(damping > 0.0 && damping < 1.0, s"damping: $damping")
    val spark = edges.sparkSession
    val sessionWidth = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
    val (e, nEdges) = checkpointCounted(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val width = math.max(1L, math.min(sessionWidth.toLong, nEdges / 250000L + 1L)).toInt
    val deg = e.repartition(width, col("src"))
      .groupBy("src").agg(count(lit(1)).cast("double").as("outw"))
    val withDeg = e.join(deg, "src").localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .repartition(width, col("node"))
      .distinct()
      .join(seeds.select(col(seedCol).cast("long").as("node"),
        lit(true).as("__seed")).distinct(), Seq("node"), "left")
      .select(col("node"),
        when(col("__seed"), lit(1.0d)).otherwise(lit(0.0d)).as("base"))
      .localCheckpoint(true)
    var scores = nodes.select(col("node"), col("base").as("score"))
    var it = 0
    while (it < iters) {
      val contrib = withDeg
        .join(scores.select(col("node").as("src"), col("score")), "src")
        .select(col("dst").as("node"), (col("score") / col("outw")).as("c"))
        .repartition(width, col("node"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      scores = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0d - damping) * col("base")
            + lit(damping) * coalesce(col("c"), lit(0.0d))).as("score"))
        .localCheckpoint(true)
      it += 1
    }
    scores
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

import graft.core.Fs
import graft.dedup.{Components, Dedup}
import Workload.{force, per}

/** Near-duplicate clustering over a seeded corpus with planted families
  * (skewed sizes: most families are singletons, a few hold up to a hundred
  * members), through both paths:
  *  - `Dedup.minHashNearDups` → `Components.connectedComponents` →
  *    `Dedup.keepBestInClusters`;
  *  - the embedding path, `Dedup.cosineNearDupsBucketed` over SRP buckets.
  *
  * It runs inside frontier_probe's traced run (about seventy Spark jobs per
  * pass make it too slow to time as a workload of its own within the
  * benchmark's run budget, see README.md). Each pass's output is checked
  * for recall and purity of the planted families.
  */
final class NearDupSegment(spark: SparkSession, seed: Long) extends Segment {
  private def sc = spark.sparkContext
  private def group = Some(sc)
  val spec = NearDupSpec(seed, docs = 1000)
  private var docs, vecs, quality: DataFrame = _

  /** SRP tables for the embedding path: 10-bit buckets, 20 tables (a
    * one-word edit, cosine ≈ 0.99, misses all 20 tables with p < 1e-6).
    */
  private val buckets: Seq[Column] = (0 until 20).map(t => graft.functions.srp_bucket(col("v"), 10, seed = 7 + t))
  private val Threshold = 0.9
  private val Passes = 2

  def stage(dir: String): Unit = {
    val s = spec
    Fs.deleteTree(dir)
    spark.range(0, s.docs, 1, sc.defaultParallelism * 2)
      .mapPartitions(it => it.map(d => (d.longValue, NearDup.text(s, d.toInt), NearDup.score(s, d.toInt))))(
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaDouble))
      .toDF("id", "text", "score")
      .write.parquet(s"$dir/docs")
    val d = spark.read.parquet(s"$dir/docs")
    d.select(col("id"), graft.functions.hash_embed(col("text")).as("v")).write.parquet(s"$dir/vecs")
    docs = d.select("id", "text")
    quality = d.select("id", "score")
    vecs = spark.read.parquet(s"$dir/vecs")
  }

  private val passS = mutable.ArrayBuffer.empty[Double]
  private val sums = mutable.ArrayBuffer.empty[(Long, Long)]
  private var checks = CheckResult(0L, Map.empty[String, Long])
  private var rounds = 0
  private var pairs, sem: DataFrame = _

  def run(t: Tracer, m: Meter): Unit = for (p <- 0 until Passes) {
    val t0 = System.nanoTime()
    pairs = t.span("dedup.minhash", group) { Dedup.minHashNearDups(docs, "id", "text").localCheckpoint(true) }
    val labels = t.span("dedup.components", group) {
      val (lb, r) = Components.connectedComponentsWithRounds(pairs.select("id_a", "id_b"))
      rounds = r
      lb.localCheckpoint(true)
    }
    val kept = t.span("dedup.keep_best", group) { Dedup.keepBestInClusters(labels, quality).localCheckpoint(true) }
    sem = t.span("dedup.semantic", group) {
      Dedup.cosineNearDupsBucketed(vecs, "id", "v", Threshold, buckets).localCheckpoint(true)
    }
    passS += (System.nanoTime() - t0) / 1e9
    sums += ((force(kept).checksum, force(sem).checksum))
    if (p == 0) {
      val l = kept.select("id", "cluster_id", "keep_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val q = sem.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      checks = Checks.nearDupClusters(spec, l.toSeq) ++ Checks.nearDupPairs(spec, q.toSeq)
    }
  }

  def result(): CheckResult = checks ++ CheckResult(sums.size.toLong,
    Map("output_changed" -> sums.count(_ != sums.head).toLong).filter(_._2 > 0))

  def layers(t: Tracer, m: Meter): Map[String, Double] = {
    val g = m.snapshot(sc)
    val self = t.selfSeconds
    def tot(k: String) = g.getOrElse(k, new Totals)
    val verified = pairs.count() + sem.count()
    val candidates = Dedup.minHashCandidates(docs, "id", "text").count() +
      Dedup.cosineNearDupsBucketed(vecs, "id", "v", -2.0, buckets).count()
    Map(
      "dedup.docs_per_s" -> per(spec.docs, Main.median(passS.toSeq)),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.candidate_yield" -> per(verified, candidates),
      "dedup.minhash_s" -> per(self.getOrElse("dedup.minhash", 0.0), Passes),
      "dedup.semantic_s" -> per(self.getOrElse("dedup.semantic", 0.0), Passes),
      "dedup.components_s" -> per(self.getOrElse("dedup.components", 0.0), Passes),
      "dedup.keep_best_s" -> per(self.getOrElse("dedup.keep_best", 0.0), Passes),
      "dedup.components_rounds" -> rounds.toDouble,
      "dedup.jobs_per_pass" -> per(Seq("dedup.minhash", "dedup.components", "dedup.keep_best",
        "dedup.semantic").map(tot(_).jobs).sum, Passes),
      "dedup.shuffle_write_bytes" -> per(Seq("dedup.minhash", "dedup.components", "dedup.keep_best",
        "dedup.semantic").map(tot(_).shuffleWriteBytes).sum, Passes))
  }

  def inputProps: Seq[(String, String)] = {
    val sizes = spec.familyOf.groupBy(identity).values.map(_.length).toSeq.sorted
    def q(p: Double) = sizes(math.min(sizes.size - 1, (p * sizes.size).toInt))
    Seq("docs" -> Json.num(spec.docs.toLong), "families" -> Json.num(sizes.size.toLong),
      "singleton_family_share" -> Json.num(sizes.count(_ == 1).toDouble / sizes.size),
      "family_size_p50" -> Json.num(q(0.5).toLong), "family_size_p90" -> Json.num(q(0.9).toLong),
      "family_size_p99" -> Json.num(q(0.99).toLong), "family_size_max" -> Json.num(sizes.last.toLong),
      "docs_in_families_of_2_plus" -> Json.num(sizes.filter(_ > 1).sum.toLong),
      "words_per_doc" -> Json.num(spec.wordsPerDoc.toLong), "edit" -> Json.str("one word replaced per member"))
  }
}

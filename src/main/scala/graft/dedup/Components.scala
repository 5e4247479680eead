package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Rounds

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise dedup output ((id_a, id_b) from minhash/simhash/cosine/
  * exact) into duplicate GROUPS with one canonical representative each,
  * which is what a training-data pipeline actually deletes against.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log n) rounds on any graph, each round a pair of bucket-local
  * groupBy+join jobs, so the cost at 10^10 edges is a handful of linear
  * shuffles rather than the O(diameter) rounds of naive label propagation
  * (a 10^6-long chain of near-dup chunks would take 10^6 propagation
  * rounds but ~20 star rounds).
  *
  * Scale shape: every round moves only (u: LONG, v: LONG) pairs — 16
  * bytes/row — under the round rules of [[graft.core.Rounds]]: each
  * round's edge frame is checkpointed so the plan does not grow with
  * iteration count, the superseded one is released, and shuffles are
  * right-sized to the input edge count; convergence is detected from a
  * count+hash signature observed on each round's checkpoint (no extra
  * job, no driver-side edge materialization).
  */
object Components {

  /** (id BIGINT, cluster_id BIGINT) for every id appearing in `pairs`;
    * cluster_id = the minimum id of the component. Ids absent from `pairs`
    * (singletons) are not emitted — left-join and coalesce(cluster_id, id)
    * to label a full corpus.
    *
    * @param pairs    edge list; the two id columns must be integral
    * @param maxIters safety bound on star rounds (2^maxIters ≥ any
    *                 realistic component count; the algorithm needs
    *                 O(log n) rounds)
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIters: Int = 25): DataFrame =
    connectedComponentsWithRounds(pairs, idACol, idBCol, maxIters)._1

  /** [[connectedComponents]] plus the number of star rounds it took — the
    * observable for the O(log n) claim (a chain of length n must converge
    * in ~log₂ n rounds, not n).
    */
  def connectedComponentsWithRounds(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIters: Int = 25): (DataFrame, Int) = {
    // materialize the input edge list ONCE: the first round's star passes
    // and the signature each re-evaluate their input 2-3×, and `pairs` is
    // typically an expensive upstream (LSH candidate generation + verify) —
    // without this the upstream runs 3-4× per call (measured 21 s → ~6 s on
    // the bench's minhash-pairs input).
    // The signature and edge count ride each checkpoint (observe()): a
    // separate job per round was ~40% of the operator's wall time.
    var (e, sig) = observed(pairs
      .select(col(idACol).cast("long").as("u"), col(idBCol).cast("long").as("v"))
      .where(col("u") =!= col("v")))
    val width = Rounds.width(pairs.sparkSession, sig.head)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // exactly ONE large+small star pair per materialization. (Chaining
      // two pairs per checkpoint to halve the driver barriers was tried
      // and REVERTED: each star references its input twice (groupBy side +
      // join side), so without the intermediate checkpoint the inner
      // round's subtree replicates through the outer round's plan and the
      // un-cached work re-executes — measured ~2× slower, not faster.)
      val (next, nextSig) = observed(smallStar(largeStar(e, width), width))
      converged = nextSig == sig
      sig = nextSig
      Rounds.release(e)
      e = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no convergence after $maxIters star rounds")
    // converged edge set = stars (child -> component-min root); roots
    // appear only on the parent side, so they label themselves
    val labels = e.select(col("u").as("id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("id"), col("v").as("cluster_id")))
      .repartition(width, col("id"))
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    (labels, it)
  }

  /** Large-star: every node u connects its LARGER neighbors to
    * m = min(neighbors(u) ∪ {u}). Operates on the symmetrized edge set;
    * output edges all point child→smaller-parent.
    *
    * `width` sizes every exchange in the round: the symmetrized set is
    * key-repartitioned once, the groupBy and the join reuse that
    * distribution (no extra shuffle — HashPartitioning(u, width) satisfies
    * both), and the output distinct gets its own (u, v) repartition.
    */
  private def largeStar(e: DataFrame, width: Int): DataFrame = {
    // no distinct on the symmetrized set: duplicate orientations don't move
    // the min-aggregate and the output distinct folds their emissions — one
    // fewer exchange per round
    val sym = e.select("u", "v")
      .union(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(width, col("u"))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .repartition(width, col("u"), col("v"))
      .distinct()
  }

  /** Small-star: every node u re-points its SMALLER neighbors (its current
    * parents) at m = min of them. Input edges must point child→smaller
    * (large-star's postcondition). Width discipline as in [[largeStar]].
    */
  private def smallStar(e: DataFrame, width: Int): DataFrame = {
    val keyed = e.repartition(width, col("u"))
    val mins = keyed.groupBy("u").agg(min("v").as("m"))
    val repointed = keyed.join(mins, "u")
      .where(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    repointed
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .repartition(width, col("u"), col("v"))
      .distinct()
  }

  /** Eagerly materialize an edge frame with its order-independent
    * fixed-point signature — (row count, sum of row hashes) — observed on
    * the checkpoint's own pass ([[Rounds.materialize]]). Collision would
    * stop iteration one round early — at 64-bit sums over committed edge
    * sets the risk is negligible and the result is still validated by the
    * caller's own checks/oracles.
    */
  private def observed(e: DataFrame): (DataFrame, Seq[Long]) =
    Rounds.materialize(e, sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))))
}

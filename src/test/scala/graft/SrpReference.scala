package graft

import scala.util.hashing.MurmurHash3

/** Spec twin of `graft.functions.SrpEval.bucket`, the kernel behind
  * `srp_bucket`: the same sign-random-projection bucket with every ±1
  * hyperplane component hashed where it is used, no precomputed matrix.
  * ExpressionSpec holds the kernel bit-for-bit equal to it.
  */
object SrpReference {
  /** Sign-random-projection bucket (Charikar LSH for cosine): `bits`-bit
    * bucket id from deterministic pseudo-random hyperplanes. Used by the
    * LSH-bucketed ANN path: vectors in the same bucket are likely neighbors.
    */
  def srpBucket(v: Array[Float], bits: Int, seed: Int = 7): Int = {
    var bucket = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < v.length) {
        // deterministic ±1 hyperplane component from (b, i)
        val h = MurmurHash3.productHash((b, i), seed)
        dot += (if (h >= 0) v(i) else -v(i))
        i += 1
      }
      if (dot >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }
}

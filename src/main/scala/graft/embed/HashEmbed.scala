package graft.embed

import graft.core.Py
import scala.util.hashing.MurmurHash3

/** Deterministic stand-in for the reference's MiniLM sentence embeddings
  * (`/root/reference/web_scraper_pipeline.py:172-180`): model weights are not
  * available offline (SURVEY.md §7.3), so chunks are embedded with a hashed
  * token-frequency vector ("feature hashing" / the hashing trick —
  * Weinberger et al., ICML'09), dimension kept at the reference's 384
  * (`README.md:44`), L2-normalized like sentence-transformers' output.
  *
  * Spec (also the fixture truth):
  *   bucket(t) = floorMod(murmur3(t, seed=42), dim)
  *   sign(t)   = +1 if murmur3(t, seed=1337) >= 0 else -1
  *   v[bucket] += sign, then v /= ||v||2 (zero vector stays zero)
  *
  * MLlib's HashingTF+Normalizer is the library equivalent but hides the hash
  * seed; this is 20 lines and replicable by the test oracle.
  */
object HashEmbed {

  val Dim = 384

  def embed(text: String, dim: Int = Dim): Array[Float] = {
    val v = new Array[Float](dim)
    if (text == null) return v
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && Py.isSpace(text.charAt(i))) i += 1
      if (i < n) {
        // `MurmurHash3.stringHash` of the token under both seeds in one
        // pass over its chars, without a token substring
        val start = i
        var hb = 42
        var hs = 1337
        while (i + 1 < n && !Py.isSpace(text.charAt(i)) && !Py.isSpace(text.charAt(i + 1))) {
          val data = (text.charAt(i) << 16) + text.charAt(i + 1)
          hb = MurmurHash3.mix(hb, data)
          hs = MurmurHash3.mix(hs, data)
          i += 2
        }
        if (i < n && !Py.isSpace(text.charAt(i))) {
          hb = MurmurHash3.mixLast(hb, text.charAt(i))
          hs = MurmurHash3.mixLast(hs, text.charAt(i))
          i += 1
        }
        val bucket = Math.floorMod(MurmurHash3.finalizeHash(hb, i - start), dim)
        v(bucket) += (if (MurmurHash3.finalizeHash(hs, i - start) >= 0) 1.0f else -1.0f)
      }
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += v(i).toDouble * v(i).toDouble; i += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm))
      i = 0
      while (i < dim) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
    v
  }

  /** Cosine similarity in double precision with sequential accumulation
    * (deterministic: same order of operations every run).
    */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    d
  }

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

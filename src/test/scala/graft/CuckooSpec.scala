package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.frontier.Seen
import graft.functions.CuckooFilter

/** Cuckoo filter (Fan '14): the deletable second sketch of the north rule's
  * "partitioned bloom/cuckoo URL-seen set". Local-structure tests pin the
  * no-false-negative contract (incl. across merge and serialization) and
  * the delete semantics blooms cannot offer; Spark tests pin the aggregate
  * + bank probe dataflow and the exactness of the composed seen-filter.
  */
class CuckooSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // structured-but-distinct key streams (splitmix64 over a tagged counter)
  private def keysOf(n: Int, tag: String): Array[Long] =
    (0 until n).map { i =>
      var z = (i.toLong ^ tag.hashCode.toLong * 0x9E3779B9L) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }.toArray

  test("no false negatives at design load; fpp well under bloom default") {
    val f = CuckooFilter.create(10000)
    val in = keysOf(10000, "in")
    in.foreach(k => assert(f.insert(k)))
    assert(!f.saturated)
    assert(in.forall(f.mightContain))
    val probes = keysOf(100000, "out")
    val fp = probes.count(f.mightContain)
    // design fpp ≈ 1.2e-4 → expect ~12 of 100k; allow generous slack
    assert(fp < 100, s"false positives: $fp / 100000")
  }

  test("serialize/deserialize round-trip preserves membership bit-for-bit") {
    val f = CuckooFilter.create(2000)
    val in = keysOf(2000, "ser")
    in.foreach(f.insert)
    val g = CuckooFilter.deserialize(f.serialize())
    assert(in.forall(g.mightContain))
    assert(java.util.Arrays.equals(f.serialize(), g.serialize()))
  }

  test("delete removes exactly one copy; remaining copies still found") {
    val f = CuckooFilter.create(1000)
    val k = keysOf(1, "del")(0)
    f.insert(k); f.insert(k) // two copies (multiset semantics)
    assert(f.delete(k))
    assert(f.mightContain(k), "one copy must remain")
    assert(f.delete(k))
    assert(!f.mightContain(k), "both copies deleted → absent (no stash hit)")
    assert(!f.delete(k), "nothing left to delete")
  }

  test("delete-then-probe over a full key set: no survivors, no casualties") {
    val f = CuckooFilter.create(5000)
    val in = keysOf(5000, "bulk")
    in.foreach(f.insert)
    val (dead, alive) = in.splitAt(2500)
    dead.foreach(k => assert(f.delete(k)))
    assert(alive.forall(f.mightContain), "deleting half must not lose the other half")
  }

  test("merge (partial-aggregation path) has no false negatives") {
    val a = CuckooFilter.create(4000)
    val b = CuckooFilter.create(4000)
    val ka = keysOf(1500, "a")
    val kb = keysOf(1500, "b")
    ka.foreach(a.insert)
    kb.foreach(b.insert)
    a.mergeInPlace(b)
    assert((ka ++ kb).forall(a.mightContain))
  }

  test("overload degrades to saturation (all-positive), never false negatives") {
    val f = CuckooFilter.create(64) // tiny: 64→numBuckets 32, capacity 128+stash
    val in = keysOf(400, "over")
    in.foreach(f.insert) // far past capacity — must saturate, not corrupt
    assert(f.saturated)
    assert(in.forall(f.mightContain), "saturated filter answers true for everything")
  }

  test("cuckoo_agg + cuckoo_might_contain: zero false negatives through SQL") {
    val keys = spark.range(5000).select(xxhash64(col("id").cast("string")).as("url_hash"))
    val ck = keys.select(graft.functions.cuckoo_agg(col("url_hash"), 5000).as("c"))
      .collect()(0).getAs[Array[Byte]](0)
    val misses = keys
      .where(!graft.functions.cuckoo_might_contain(lit(ck), col("url_hash")))
      .count()
    assert(misses == 0)
  }

  test("filterUnseenCuckooBucketed is exact, incl. bank re-use across waves") {
    val cands = (0 until 3000).map(i => (s"http://h${i % 11}.test/$i", i.toLong))
      .toDF("url", "seed_idx")
    val keyed = Seen.withUrlKeys(cands)
    for (m <- Seq(3, 7)) {
      val seen = keyed.where(col("seed_idx") % m === 0).select("url_hash", "canonical_url")
      val got = Seen.filterUnseenCuckooBucketed(keyed, seen, buckets = 16)
        .select("seed_idx").as[Long].collect().toSet
      val want = (0 until 3000).filter(_ % m != 0).map(_.toLong).toSet
      assert(got == want, s"mod $m")
    }
  }

  test("empty ledger passes everything through (cuckoo path)") {
    val cands = Seq(("http://a.test/1", 1L)).toDF("url", "seed_idx")
    val keyed = Seen.withUrlKeys(cands)
    val empty = keyed.where(lit(false)).select("url_hash", "canonical_url")
    assert(Seen.filterUnseenCuckooBucketed(keyed, empty).count() == 1)
  }
}

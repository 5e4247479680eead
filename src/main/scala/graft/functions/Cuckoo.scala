package graft.functions

/** Partial-key cuckoo filter over BIGINT keys (Fan et al., "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT '14) — the second sketch family
  * the north rule names for the URL-seen set ("partitioned bloom/cuckoo").
  * What it buys over the bloom bank at the same job:
  *
  *  - **deletion**: a bloom cannot unlearn a key; a cuckoo filter removes
  *    one fingerprint copy exactly (the crawl ledger does not need it: its
  *    unsee is exact through tombstones and the verifying anti-join);
  *  - **lower fpp per bit at scale**: 16-bit fingerprints in 4-way buckets
  *    give fpp ≈ 2·4/2^16 ≈ 1.2e-4 at ~19.5 bits/key (load 0.84) — the
  *    bloom needs the same bits for 1e-4 and can never delete.
  *
  * Layout: `numBuckets` (power of two) buckets × 4 slots × 2-byte
  * fingerprints, 0 = empty. A key's fingerprint is a 16-bit nonzero mix of
  * its 64-bit hash; its two candidate buckets are `i1 = mix(key) & mask`
  * and `i2 = i1 ^ (mix(fp) & mask)` — i2 is computable from (i1, fp) alone,
  * which is what makes displacement (and partial-aggregate MERGE, which
  * re-inserts from slot coordinates) possible without the original key.
  *
  * Exactly like the bloom path, the filter is only ever a PRE-FILTER here:
  * membership answers route rows to "definitely new" vs "verify by
  * anti-join", so a false positive costs a shuffled row, never a wrong
  * result. The correctness contract the engine relies on is NO FALSE
  * NEGATIVES for inserted-and-not-deleted keys; the insert path therefore
  * degrades loudly, never silently: displacement overflow goes to a bounded
  * stash, and a full stash flips a `saturated` flag that makes every probe
  * answer true (the pre-filter stops helping but stays sound).
  *
  * Deletion is safe only for keys actually inserted (deleting an absent key
  * whose fingerprint collides in-bucket removes someone else's copy —
  * standard cuckoo-filter contract).
  *
  * Not thread-safe for writes; probes are read-only and safe after
  * publication (the Spark lifecycle: build in an aggregate buffer or on the
  * driver, serialize, broadcast, probe).
  */
final class CuckooFilter private (
    val numBuckets: Int,
    private val slots: Array[Short],
    private var stash: Array[Long], // packed (bucket << 16 | fp), -1 = empty
    private var saturatedFlag: Boolean) extends Serializable {

  import CuckooFilter._

  private def mask: Int = numBuckets - 1

  def saturated: Boolean = saturatedFlag
  def size: Long = {
    var n = 0L
    var i = 0
    while (i < slots.length) { if (slots(i) != 0) n += 1; i += 1 }
    i = 0
    while (i < stash.length) { if (stash(i) != -1L) n += 1; i += 1 }
    n
  }

  @inline private def slotBase(bucket: Int): Int = bucket << SlotShift

  private def bucketHas(bucket: Int, fp: Short): Boolean = {
    val b = slotBase(bucket)
    slots(b) == fp || slots(b + 1) == fp || slots(b + 2) == fp || slots(b + 3) == fp
  }

  private def tryInsertAt(bucket: Int, fp: Short): Boolean = {
    val b = slotBase(bucket)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slots(b + s) == 0) { slots(b + s) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert a key. Returns false only when filter AND stash are full (the
    * filter is then saturated and answers every probe positively). Inserts
    * duplicates as distinct copies, which is exactly what makes delete
    * multiset-correct.
    */
  def insert(key: Long): Boolean = {
    if (saturatedFlag) return false
    val fp = fingerprint(key)
    val i1 = indexOf(key) & mask
    insertFp(i1, fp)
  }

  private def insertFp(i1: Int, fp: Short): Boolean = {
    val i2 = (i1 ^ altOffset(fp)) & mask
    if (tryInsertAt(i1, fp) || tryInsertAt(i2, fp)) return true
    // Displacement loop. The victim slot is driven by an LCG so a cyclic
    // displacement chain cannot livelock deterministically; the walk itself
    // is still a pure function of the insertion sequence (reproducible).
    var cur = fp
    var bucket = if ((mix64(fp.toLong & 0xFFFFL) & 1L) == 0L) i1 else i2
    var rng = mix64(((i1.toLong << 17) ^ (fp.toLong & 0xFFFFL)) | 1L)
    var kicks = 0
    while (kicks < MaxKicks) {
      rng = rng * 6364136223846793005L + 1442695040888963407L
      val victim = slotBase(bucket) + ((rng >>> 33) & (SlotsPerBucket - 1)).toInt
      val out = slots(victim)
      slots(victim) = cur
      cur = out
      bucket = (bucket ^ altOffset(cur)) & mask
      if (tryInsertAt(bucket, cur)) return true
      kicks += 1
    }
    // Stash the homeless fingerprint with ONE of its candidate buckets
    // (either works: the pair is recoverable from (bucket, fp)).
    var i = 0
    while (i < stash.length) {
      if (stash(i) == -1L) {
        stash(i) = (bucket.toLong << 16) | (cur.toLong & 0xFFFFL)
        return true
      }
      i += 1
    }
    saturatedFlag = true
    false
  }

  def mightContain(key: Long): Boolean = {
    if (saturatedFlag) return true
    val fp = fingerprint(key)
    val i1 = indexOf(key) & mask
    val i2 = (i1 ^ altOffset(fp)) & mask
    if (bucketHas(i1, fp) || bucketHas(i2, fp)) return true
    var i = 0
    while (i < stash.length) {
      val e = stash(i)
      if (e != -1L && (e & 0xFFFFL) == (fp.toLong & 0xFFFFL)) {
        val b = (e >>> 16).toInt
        if (b == i1 || b == i2) return true
      }
      i += 1
    }
    false
  }

  /** Remove ONE copy of the key's fingerprint. Returns true if a copy was
    * found. Only call for keys that were inserted (see class doc).
    */
  def delete(key: Long): Boolean = {
    val fp = fingerprint(key)
    val i1 = indexOf(key) & mask
    val i2 = (i1 ^ altOffset(fp)) & mask
    var bi = 0
    while (bi < 2) {
      val bucket = if (bi == 0) i1 else i2
      val b = slotBase(bucket)
      var s = 0
      while (s < SlotsPerBucket) {
        if (slots(b + s) == fp) { slots(b + s) = 0; return true }
        s += 1
      }
      bi += 1
    }
    var i = 0
    while (i < stash.length) {
      val e = stash(i)
      if (e != -1L && (e & 0xFFFFL) == (fp.toLong & 0xFFFFL)) {
        val b = (e >>> 16).toInt
        if (b == i1 || b == i2) { stash(i) = -1L; return true }
      }
      i += 1
    }
    false
  }

  /** Absorb every fingerprint of `other` (same numBuckets required) by
    * re-inserting from slot coordinates — the partial-aggregation merge.
    * Unlike bloom OR, merging can overflow; overflow degrades to the stash
    * and then to saturation, never to a false negative.
    */
  def mergeInPlace(other: CuckooFilter): CuckooFilter = {
    require(other.numBuckets == numBuckets,
      s"cuckoo merge across sizes: $numBuckets vs ${other.numBuckets}")
    if (other.saturatedFlag) { saturatedFlag = true; return this }
    var bucket = 0
    while (bucket < numBuckets) {
      val b = other.slotBase(bucket)
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = other.slots(b + s)
        if (fp != 0 && !saturatedFlag) insertFp(bucket, fp)
        s += 1
      }
      bucket += 1
    }
    var i = 0
    while (i < other.stash.length) {
      val e = other.stash(i)
      if (e != -1L && !saturatedFlag) insertFp((e >>> 16).toInt, (e & 0xFFFFL).toShort)
      i += 1
    }
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(16 + slots.length * 2 + stash.length * 8)
    bb.putInt(Magic)
    bb.putInt(numBuckets)
    bb.putInt(stash.length)
    bb.putInt(if (saturatedFlag) 1 else 0)
    var i = 0
    while (i < slots.length) { bb.putShort(slots(i)); i += 1 }
    i = 0
    while (i < stash.length) { bb.putLong(stash(i)); i += 1 }
    bb.array()
  }
}

object CuckooFilter {
  private val Magic = 0x43554B46 // "CUKF"
  private[functions] val SlotsPerBucket = 4
  private val SlotShift = 2
  private val MaxKicks = 500
  private val StashSize = 64
  /** Sizing load target: 4-way cuckoo sustains ~0.95 with random kicks; the
    * deterministic-LCG walk is given headroom so MaxKicks overflow stays a
    * stash rarity rather than a saturation cliff.
    */
  private val LoadTarget = 0.84

  def create(expectedItems: Long): CuckooFilter = {
    val needBuckets = math.ceil(
      math.max(expectedItems, 64L) / (SlotsPerBucket * LoadTarget)).toLong
    val numBuckets = java.lang.Long.highestOneBit(
      math.max(needBuckets * 2 - 1, 1L)).toInt // next power of two
    require(numBuckets > 0 && numBuckets <= (1 << 28),
      s"cuckoo filter too large: $expectedItems expected items")
    val stash = Array.fill(StashSize)(-1L)
    new CuckooFilter(numBuckets, new Array[Short](numBuckets * SlotsPerBucket),
      stash, false)
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a cuckoo filter image")
    val numBuckets = bb.getInt()
    val stashLen = bb.getInt()
    val saturated = bb.getInt() == 1
    val slots = new Array[Short](numBuckets * SlotsPerBucket)
    var i = 0
    while (i < slots.length) { slots(i) = bb.getShort(); i += 1 }
    val stash = new Array[Long](stashLen)
    i = 0
    while (i < stashLen) { stash(i) = bb.getLong(); i += 1 }
    new CuckooFilter(numBuckets, slots, stash, saturated)
  }

  /** splitmix64 finalizer — independent of the key's own hash family so a
    * structured key set (sequential xxhash64 outputs) can't bias placement.
    */
  @inline private[functions] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline private def fingerprint(key: Long): Short = {
    val h = (mix64(key) & 0xFFFFL).toInt
    (if (h == 0) 1 else h).toShort
  }

  @inline private def indexOf(key: Long): Int = (mix64(key * 0xC2B2AE3D27D4EB4FL) >>> 32).toInt

  /** The alt-bucket XOR offset depends on the FINGERPRINT only. */
  @inline private def altOffset(fp: Short): Int = (mix64(fp.toLong & 0xFFFFL) >>> 16).toInt
}

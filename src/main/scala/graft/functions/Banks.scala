package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** One membership-filter family over BIGINT keys, stated once: how a
  * filter is made, fed, merged, written, read and asked. Its three users
  * are the bank aggregate ([[BankSketch]] builds and merges with it),
  * [[FilterBank]]'s probe (decodes and asks) and the ledger's driver-side
  * OR of two banks ([[union]]). A new family (a layered bloom, a learned
  * filter) plugs in here and reaches all three.
  */
sealed abstract class FilterFamily[F <: AnyRef](val name: String) extends Serializable {
  /** An empty filter sized for `expectedItems` at false-positive rate `fpp`. */
  def create(expectedItems: Long, fpp: Double): F
  def put(filter: F, key: Long): Unit
  /** `into` with every key of `other` (same-sized filters). */
  def merge(into: F, other: F): F
  def contains(filter: F, key: Long): Boolean
  def encode(filter: F): Array[Byte]
  def decode(bytes: Array[Byte]): F

  /** The serialized merge of two serialized filters. */
  final def union(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    encode(merge(decode(a), decode(b)))
}

/** Spark's `BloomFilter`: OR-merge, so bank bytes are partition-order free. */
case object BloomFamily extends FilterFamily[BloomFilter]("bloom") {
  def create(expectedItems: Long, fpp: Double): BloomFilter = BloomFilter.create(expectedItems, fpp)
  def put(filter: BloomFilter, key: Long): Unit = filter.putLong(key)
  def merge(into: BloomFilter, other: BloomFilter): BloomFilter = into.mergeInPlace(other)
  def contains(filter: BloomFilter, key: Long): Boolean = filter.mightContainLong(key)
  def encode(filter: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    filter.writeTo(out)
    out.toByteArray
  }
  def decode(bytes: Array[Byte]): BloomFilter = BloomFilter.readFrom(bytes)
}

/** [[CuckooFilter]]: merge re-inserts fingerprints, so a bank's layout
  * depends on the order partials merge in (its answers do not). Its rate
  * is fixed by the 16-bit fingerprints, so `fpp` is not read.
  */
case object CuckooFamily extends FilterFamily[CuckooFilter]("cuckoo") {
  def create(expectedItems: Long, fpp: Double): CuckooFilter = CuckooFilter.create(expectedItems)
  def put(filter: CuckooFilter, key: Long): Unit = filter.insert(key)
  def merge(into: CuckooFilter, other: CuckooFilter): CuckooFilter = into.mergeInPlace(other)
  def contains(filter: CuckooFilter, key: Long): Boolean = filter.mightContain(key)
  def encode(filter: CuckooFilter): Array[Byte] = filter.serialize()
  def decode(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
}

/** A bank of per-bucket membership filters riding one TorrentBroadcast —
  * the "partitioned bloom/cuckoo URL-seen set" of the north rule. The task
  * binary carries only the broadcast HANDLE (bytes move once per executor,
  * not once per stage as a plan literal would); decoded filters are cached
  * per JVM. The rows are (bucket, filter image) as [[BankSketch]] builds
  * them; the [[FilterFamily]] decodes and asks, and shipping and caching
  * live here once. [[BloomBank]] and [[CuckooBank]] name the two families,
  * so each has its own probe node.
  */
abstract class FilterBank[F <: AnyRef](bc: Broadcast[Array[(Int, Array[Byte])]],
    family: FilterFamily[F]) extends Serializable {
  // Cache key MUST be unique per bank instance, NOT bc.id: broadcast ids
  // restart from 0 with every SparkContext, so a multi-session JVM (tests,
  // repeated benchmarks) would silently resolve a NEW bank to a STALE cache
  // entry — false negatives for ledger keys, i.e. wrong results.
  // (Found by row-count drift in ScalingBench; pinned by SeenSpec.)
  private val bankId: String = java.util.UUID.randomUUID().toString

  // Per-deserialized-instance memo of the resolved bucket→filter map. The
  // JVM-wide cache lookup is `synchronized`, and going through it PER ROW
  // serialized all task threads on one lock — measured as 2.8× task-time
  // inflation at 16 cores vs 4 (the round-2 scaling-efficiency killer).
  // Each task gets its own bank instance from the task binary, touches
  // the lock once, then probes lock-free. Benign race: re-resolution is
  // idempotent.
  @transient private var local: java.util.HashMap[Int, F] = _

  /** This bank's probe node over (bucket INT, key BIGINT) children. */
  def probe(bucket: Expression, key: Expression): BankProbe

  final def mightContain(bucket: Int, key: Long): Boolean = {
    var m = local
    if (m == null) { m = resolve(); local = m }
    val f = m.get(bucket)
    f != null && family.contains(f, key)
  }

  private def resolve(): java.util.HashMap[Int, F] = FilterBank.cache.synchronized {
    val hit = FilterBank.cache.get(bankId)
    if (hit != null) hit.asInstanceOf[java.util.HashMap[Int, F]]
    else {
      val built = new java.util.HashMap[Int, F]()
      bc.value.foreach { case (b, bytes) => built.put(b, family.decode(bytes)) }
      FilterBank.cache.put(bankId, built)
      built
    }
  }
}

object FilterBank {
  private val MaxEntries = 32 // waves in flight per executor JVM — LRU bound
  private val cache = new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
      size() > MaxEntries
  }
}

final class BloomBank(bc: Broadcast[Array[(Int, Array[Byte])]])
    extends FilterBank(bc, BloomFamily) {
  def probe(bucket: Expression, key: Expression): BankProbe = BloomBankProbe(this, bucket, key)
}

final class CuckooBank(bc: Broadcast[Array[(Int, Array[Byte])]])
    extends FilterBank(bc, CuckooFamily) {
  def probe(bucket: Expression, key: Expression): BankProbe = CuckooBankProbe(this, bucket, key)
}

/** Probe of a [[FilterBank]]: (bucket INT, key BIGINT) → BOOLEAN. */
sealed abstract class BankProbe extends BinaryExpression with KernelCall {
  def bank: FilterBank[_]
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = invoke(const(bank), "mightContain", left, right)
}

case class BloomBankProbe(bank: BloomBank, left: Expression, right: Expression)
    extends BankProbe {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomBankProbe =
    copy(left = l, right = r)
  override def prettyName: String = "bloom_bank_probe"
}

case class CuckooBankProbe(bank: CuckooBank, left: Expression, right: Expression)
    extends BankProbe {
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CuckooBankProbe =
    copy(left = l, right = r)
  override def prettyName: String = "cuckoo_bank_probe"
}

/** Per-thread last-reference memo of a decoded sketch image. A probe's
  * sketch side is a Literal — one array instance per task — so each task
  * thread decodes it once ([[CmsProbe]]).
  */
final class LastDecoded[T](decode: Array[Byte] => T) {
  private val last = new ThreadLocal[(Array[Byte], T)]
  def apply(bytes: Array[Byte]): T = {
    var e = last.get()
    if (e == null || (e._1 ne bytes)) {
      e = (bytes, decode(bytes))
      last.set(e)
    }
    e._2
  }
}

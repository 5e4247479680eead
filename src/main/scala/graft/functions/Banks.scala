package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** A bank of per-bucket membership filters riding one TorrentBroadcast —
  * the "partitioned bloom/cuckoo URL-seen set" of the north rule. The task
  * binary carries only the broadcast HANDLE (bytes move once per executor,
  * not once per stage as a plan literal would); decoded filters are cached
  * per JVM. Filter families differ only in how they decode a filter and
  * answer a key ([[BloomBank]], [[CuckooBank]]); shipping and caching live
  * here once.
  */
abstract class FilterBank[F <: AnyRef](bc: Broadcast[Array[(Int, Array[Byte])]])
    extends Serializable {
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

  /** One filter from its serialized bytes. */
  protected def decode(bytes: Array[Byte]): F

  /** Membership of `key` in one decoded filter (a method, not a function
    * value: the key stays an unboxed long on every probed row).
    */
  protected def contains(filter: F, key: Long): Boolean

  final def mightContain(bucket: Int, key: Long): Boolean = {
    var m = local
    if (m == null) { m = resolve(); local = m }
    val f = m.get(bucket)
    f != null && contains(f, key)
  }

  private def resolve(): java.util.HashMap[Int, F] = FilterBank.cache.synchronized {
    val hit = FilterBank.cache.get(bankId)
    if (hit != null) hit.asInstanceOf[java.util.HashMap[Int, F]]
    else {
      val built = new java.util.HashMap[Int, F]()
      bc.value.foreach { case (b, bytes) => built.put(b, decode(bytes)) }
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

/** Bank of serialized Spark bloom filters ([[BloomBankAgg]] images). */
final class BloomBank(bc: Broadcast[Array[(Int, Array[Byte])]])
    extends FilterBank[BloomFilter](bc) {
  protected def decode(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  protected def contains(filter: BloomFilter, key: Long): Boolean =
    filter.mightContainLong(key)
}

/** Bank of serialized [[CuckooFilter]]s ([[CuckooAgg]] images). */
final class CuckooBank(bc: Broadcast[Array[(Int, Array[Byte])]])
    extends FilterBank[CuckooFilter](bc) {
  protected def decode(bytes: Array[Byte]): CuckooFilter = CuckooFilter.deserialize(bytes)
  protected def contains(filter: CuckooFilter, key: Long): Boolean =
    filter.mightContain(key)
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
  * thread decodes it once ([[CuckooProbe]], [[CmsProbe]]).
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

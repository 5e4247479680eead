package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch (Flajolet et al., AofA '07) — the
  * cardinality member of the sketch bank: bloom/cuckoo answer membership,
  * CMS answers frequency, HLL answers "how many DISTINCT". The frontier
  * needs it per host (how many unique urls does this host expose — crawl
  * budgeting, trap corroboration) and per wave (unique outlink mass)
  * where exact `count(distinct)` would shuffle every key: the sketch is
  * `2^p` one-byte registers, insert is register-max, merge is
  * element-wise max — fully commutative and idempotent, so images are
  * partition-order-independent (bit-comparable, like CMS and unlike the
  * cuckoo's layout) and re-aggregating per-bucket sketches into a global
  * one ([[HllMerge]]) costs `m` bytes per group on the wire at ANY key
  * cardinality.
  *
  * Register update (the classic low-bits convention): for 64-bit hash
  * `h`, index = low `p` bits, and ρ = (trailing zeros of `h >>> p`) + 1
  * (all-zero remainder → 65−p). Trailing-zeros-based ρ is chosen over the
  * leading-zeros textbook form because it replays EXACTLY in portable
  * SQL — `bit_count(w XOR (w−1))` — which is what lets the q97 oracle
  * recompute registers from planted arithmetic hashes.
  *
  * The estimate is FIXED-POINT: sumQ = Σ_j (2^40 >>> M_j) (integer; the
  * 2^−M_j harmonic sum scaled by 2^40), raw = m²·2^40 DIV max(sumQ,1),
  * then the α_m = 0.7213m∕(m+1.079) bias correction applied via the
  * exact division identity ⌊raw·A∕B⌋ = (raw DIV B)·A + ((raw mod B)·A)
  * DIV B so nothing overflows at any register state (p ≤ 11 keeps
  * m²·2^40 < 2^63). No floating point anywhere — the estimate is a pure
  * integer function of the registers, identical on every engine. The
  * small-range linear-counting correction is deliberately OMITTED from
  * the integer estimate (it needs ln); callers in the n ≲ m regime can
  * read [[HllSketch.zeros]] and correct driver-side — at crawl scale
  * (n ≫ m) raw HLL is the operating regime.
  */
object HllSketch {
  private val Magic = 0x484C4C47 // "HLLG"
  val K = 40 // fixed-point scale of the harmonic sum

  def m(p: Int): Int = 1 << p

  def rho(h: Long, p: Int): Int = {
    val w = h >>> p
    if (w == 0L) 65 - p else java.lang.Long.numberOfTrailingZeros(w) + 1
  }

  def add(registers: Array[Byte], p: Int, h: Long): Unit = {
    val idx = (h & ((1L << p) - 1)).toInt
    val r = rho(h, p)
    if (r > (registers(idx) & 0xFF)) registers(idx) = r.toByte
  }

  /** Bytes before the registers of a serialized image: magic + `p`. */
  val Header = 5

  def serialize(p: Int, registers: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](Header + registers.length)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putInt(Magic); bb.put(p.toByte)
    System.arraycopy(registers, 0, out, Header, registers.length)
    out
  }

  /** `p` of a serialized image, after checking its header; its registers
    * are `bytes(Header until bytes.length)`, read in place.
    */
  def precision(bytes: Array[Byte]): Int = {
    require(java.nio.ByteBuffer.wrap(bytes).getInt() == Magic, "not an HLL image")
    val p = bytes(4).toInt
    require(bytes.length == Header + (1 << p), "truncated HLL image")
    p
  }

  /** (p, a copy of the registers) of a serialized image. */
  def deserialize(bytes: Array[Byte]): (Int, Array[Byte]) =
    (precision(bytes), java.util.Arrays.copyOfRange(bytes, Header, bytes.length))

  /** Fixed-point cardinality estimate (see object doc) of the `2^p`
    * registers starting at `from`.
    */
  def estimate(p: Int, registers: Array[Byte], from: Int = 0): Long = {
    val mm = 1 << p
    var sumQ = 0L
    var j = 0
    while (j < mm) {
      val r = registers(from + j) & 0xFF
      sumQ += (if (r >= 64) 0L else (1L << K) >>> r)
      j += 1
    }
    if (sumQ < 1L) sumQ = 1L
    val raw = (mm.toLong * mm.toLong * (1L << K)) / sumQ
    val a = 7213L * mm
    val b = 10000L * mm + 10790L
    (raw / b) * a + ((raw % b) * a) / b
  }

  /** Zero registers from `from` on (for caller-side small-range correction). */
  def zeros(registers: Array[Byte], from: Int = 0): Int = {
    var z = 0; var j = from
    while (j < registers.length) { if (registers(j) == 0) z += 1; j += 1 }
    z
  }
}

/** Mutable HLL aggregation buffer. */
final class HllBuffer(val p: Int, val registers: Array[Byte]) extends Serializable {
  def this(p: Int) = this(p, new Array[Byte](1 << p))
  /** Register-max with the registers of `src` starting at `from`. */
  def maxFrom(src: Array[Byte], from: Int): Unit = {
    var i = 0
    while (i < registers.length) {
      if ((src(from + i) & 0xFF) > (registers(i) & 0xFF)) registers(i) = src(from + i)
      i += 1
    }
  }
}

/** The buffer bytes of both HLL aggregates: the serialized image. */
sealed abstract class HllImages extends Sketch[HllBuffer] {
  def dataType: DataType = BinaryType
  def toBytes(buf: HllBuffer): Array[Byte] = HllSketch.serialize(buf.p, buf.registers)
  def fromBytes(bytes: Array[Byte]): HllBuffer = {
    val (pp, regs) = HllSketch.deserialize(bytes)
    new HllBuffer(pp, regs)
  }
}

/** HLL build (`hll_agg`): pre-hashed BIGINT keys → serialized sketch
  * BINARY. The hash contract is the caller's (`xxhash64(url)` in
  * production; plantable arithmetic values under test) — the kernel does
  * not re-mix, which is what keeps it oracle-replayable.
  */
case class HllBuild(p: Int) extends HllImages {
  require(p >= 4 && p <= 11, s"hll precision out of range (4..11): $p")
  def name: String = "hll_agg"
  def empty(): HllBuffer = new HllBuffer(p)
  def add(buf: HllBuffer, value: Any, inputType: DataType): HllBuffer = {
    HllSketch.add(buf.registers, buf.p, value.asInstanceOf[Long])
    buf
  }
  def merge(buf: HllBuffer, other: HllBuffer): HllBuffer = { buf.maxFrom(other.registers, 0); buf }
  def result(buf: HllBuffer): Any = toBytes(buf)
}

/** HLL merge (`hll_merge_agg`): serialized same-precision images →
  * element-wise register max — the incremental path: per-bucket /
  * per-wave sketches roll up to host or corpus cardinality without
  * touching keys again. NULL over no image.
  */
case object HllMerge extends HllImages {
  def name: String = "hll_merge_agg"
  override def nullable: Boolean = true
  def empty(): HllBuffer = new HllBuffer(0) // sentinel: no image yet

  def add(buf: HllBuffer, value: Any, inputType: DataType): HllBuffer = {
    val bytes = value.asInstanceOf[Array[Byte]]
    if (buf.p == 0) return fromBytes(bytes)
    val pp = HllSketch.precision(bytes)
    require(buf.p == pp, s"mixed HLL precisions: ${buf.p} vs $pp")
    buf.maxFrom(bytes, HllSketch.Header)
    buf
  }

  def merge(buf: HllBuffer, other: HllBuffer): HllBuffer =
    if (other.p == 0) buf
    else if (buf.p == 0) other
    else { require(buf.p == other.p, "mixed HLL precisions"); buf.maxFrom(other.registers, 0); buf }

  def result(buf: HllBuffer): Any = if (buf.p == 0) null else toBytes(buf)
}

/** Cardinality probe: sketch BINARY → BIGINT fixed-point estimate. */
case class HllCard(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(HllProbe, "card", child)
  override protected def withNewChildInternal(c: Expression): HllCard = copy(c)
  override def prettyName: String = "hll_card"
}

/** The per-row probes read the image's registers in place. */
object HllProbe {
  def card(bytes: Array[Byte]): Long =
    HllSketch.estimate(HllSketch.precision(bytes), bytes, HllSketch.Header)
  def zeros(bytes: Array[Byte]): Int = {
    HllSketch.precision(bytes)
    HllSketch.zeros(bytes, HllSketch.Header)
  }
  def m(bytes: Array[Byte]): Int = 1 << HllSketch.precision(bytes)
}

/** Zero-register count of a sketch image — the input to the small-range
  * linear-counting correction (`m·ln(m∕zeros)`), which callers apply in
  * column arithmetic when they operate in the n ≲ m regime the fixed-point
  * estimate deliberately ignores.
  */
case class HllZeros(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(HllProbe, "zeros", child)
  override protected def withNewChildInternal(c: Expression): HllZeros = copy(c)
  override def prettyName: String = "hll_zeros"
}

/** Register count `m = 2^p` of a sketch image (companion to [[HllZeros]]
  * for the linear-counting arithmetic).
  */
case class HllM(child: Expression) extends UnaryExpression with KernelCall {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(HllProbe, "m", child)
  override protected def withNewChildInternal(c: Expression): HllM = copy(c)
  override def prettyName: String = "hll_m"
}

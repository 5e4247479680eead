package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Count-min sketch over BIGINT keys (Cormode & Muthukrishnan '05) — the
  * counting member of the sketch bank (bloom/cuckoo answer membership,
  * CMS answers frequency). `depth` independent hash rows × `width`
  * counters; update increments one counter per row, estimate takes the
  * row-minimum. The guarantee the engine leans on is one-sided:
  * **estimates never UNDER-count** (collisions only add), so
  * "estimate < threshold ⇒ definitely below threshold" is exact — which
  * turns the sketch into a candidate filter for heavy-hitter mining the
  * same way the bloom gates the seen-anti-join: sketch prunes, an exact
  * pass verifies, wrong answers are impossible ([[graft.text.HeavyHitters]]).
  *
  * Error bound: over-count ≤ 2·N/width with probability ≥ 1 − 2^-depth
  * (N = total increments). Size = depth·width·8 bytes, independent of key
  * cardinality — a 4×65536 sketch is 2 MiB and absorbs 10^10 keys.
  *
  * Row hashes are splitmix64 finalizers of `key ⊕ row-constant` — pairwise
  * independent enough for the CM bound in practice, and deterministic
  * across engines and partitionings (merge is element-wise add, fully
  * commutative: sketch bytes are partition-order-independent, unlike the
  * cuckoo's layout — so CMS images can even be compared bit-for-bit).
  */
object CmSketch {
  private val Magic = 0x434D5347 // "CMSG"

  def rowIndex(key: Long, row: Int, width: Int): Int = {
    val h = CuckooFilter.mix64(key ^ (0x9E3779B97F4A7C15L * (row + 1)))
    ((h >>> 1) % width).toInt
  }

  def serialize(depth: Int, width: Int, counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + counts.length * 8)
    bb.putInt(Magic); bb.putInt(depth); bb.putInt(width)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }

  /** (depth, width, counts) of a serialized image. */
  def deserialize(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a count-min sketch image")
    val depth = bb.getInt(); val width = bb.getInt()
    val counts = new Array[Long](depth * width)
    var i = 0
    while (i < counts.length) { counts(i) = bb.getLong(); i += 1 }
    (depth, width, counts)
  }

  def estimate(depth: Int, width: Int, counts: Array[Long], key: Long): Long = {
    var min = Long.MaxValue
    var d = 0
    while (d < depth) {
      val c = counts(d * width + rowIndex(key, d, width))
      if (c < min) min = c
      d += 1
    }
    min
  }
}

/** Mutable CMS aggregation buffer. */
final class CmsBuffer(val depth: Int, val width: Int) extends Serializable {
  val counts = new Array[Long](depth * width)
  def add(key: Long, by: Long): Unit = {
    var d = 0
    while (d < depth) {
      counts(d * width + CmSketch.rowIndex(key, d, width)) += by
      d += 1
    }
  }
}

/** CMS build aggregate: BIGINT keys → serialized sketch BINARY. Map-side
  * partials merge by element-wise add (fixed-size arrays on the wire,
  * never rows — the bloom_bank_agg shape).
  */
case class CmsAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CmsBuffer] {

  require(depth >= 1 && depth <= 16 && width >= 16,
    s"cms shape out of range: $depth x $width")

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CmsBuffer = new CmsBuffer(depth, width)

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(buf: CmsBuffer, other: CmsBuffer): CmsBuffer = {
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) += other.counts(i); i += 1 }
    buf
  }

  override def eval(buf: CmsBuffer): Any =
    CmSketch.serialize(buf.depth, buf.width, buf.counts)
  override def serialize(buf: CmsBuffer): Array[Byte] =
    CmSketch.serialize(buf.depth, buf.width, buf.counts)
  override def deserialize(bytes: Array[Byte]): CmsBuffer = {
    val (d, w, c) = CmSketch.deserialize(bytes)
    val buf = new CmsBuffer(d, w)
    System.arraycopy(c, 0, buf.counts, 0, c.length)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): CmsAgg =
    copy(child = cs.head)
  override def prettyName: String = "cms_agg"
}

/** Frequency estimate probe: (sketch BINARY, key BIGINT) → BIGINT.
  * Literal-cached per thread like the cuckoo probe ([[CmsProbe]]).
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with KernelCall {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def call: Expression = static(CmsProbe, "estimate", left, right)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
  override def prettyName: String = "cms_estimate"
}

object CmsProbe {
  private val last = new LastDecoded(CmSketch.deserialize)
  def estimate(bytes: Array[Byte], key: Long): Long = {
    val (d, w, c) = last(bytes)
    CmSketch.estimate(d, w, c, key)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType}

/** One sketch's aggregation buffer, stated as its operations only: an
  * empty buffer, adding one non-null input, merging two partials, the
  * result, and the buffer's bytes between the map and reduce sides.
  * Sketches are case classes or objects, so two equal aggregates compare
  * equal in a plan.
  */
trait Sketch[B] extends Serializable {
  /** The SQL name of the aggregate. */
  def name: String
  def dataType: DataType
  def nullable: Boolean = false
  def empty(): B
  /** `buf` with one non-null input value of type `inputType` added. */
  def add(buf: B, value: Any, inputType: DataType): B
  def merge(buf: B, other: B): B
  def result(buf: B): Any
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** The one Spark binding of every sketch aggregate (`bloom_bank_agg`,
  * `cms_agg`, `hll_agg`, `hll_merge_agg`, `vec_sum_agg`, and the cuckoo
  * bank): a `TypedImperativeAggregate` whose buffer is the sketch's own
  * object, so map-side partials merge as sketches and only their bytes
  * cross the shuffle. Buffer offsets, the child, `copy` and the null-input
  * skip live here once; the [[Sketch]] states the rest.
  */
case class SketchAgg[B](
    child: Expression,
    sketch: Sketch[B],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] with UnaryLike[Expression] {

  override def dataType: DataType = sketch.dataType
  override def nullable: Boolean = sketch.nullable
  override def prettyName: String = sketch.name

  override def createAggregationBuffer(): B = sketch.empty()

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buf else sketch.add(buf, v, child.dataType)
  }

  override def merge(buf: B, other: B): B = sketch.merge(buf, other)
  override def eval(buf: B): Any = sketch.result(buf)
  override def serialize(buf: B): Array[Byte] = sketch.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): SketchAgg[B] = copy(child = c)
}

/** Whole-bank filter sketch: BIGINT keys → ARRAY<BINARY> of `buckets`
  * serialized filters of one [[FilterFamily]], key k landing in filter
  * `pmod(k, buckets)`. One aggregate evaluating its key once per row — N
  * separate one-filter aggregates over `when(bucket = b, …)` cost N child
  * evals per row (measured: it cost WaveBench ~15% when the bank rode an
  * `observe()`). Partials merge filter by filter.
  */
case class BankSketch[F <: AnyRef](family: FilterFamily[F], buckets: Int,
    expectedPerBucket: Long, fpp: Double) extends Sketch[Array[AnyRef]] {
  def name: String = s"${family.name}_bank_agg"
  def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  /** One empty bucket filter (never sized under 1024 keys). */
  def emptyFilter(): F = family.create(math.max(expectedPerBucket, 1024L), fpp)

  def empty(): Array[AnyRef] = Array.fill[AnyRef](buckets)(emptyFilter())

  def add(buf: Array[AnyRef], value: Any, inputType: DataType): Array[AnyRef] = {
    val k = value.asInstanceOf[Long]
    family.put(buf((((k % buckets) + buckets) % buckets).toInt).asInstanceOf[F], k)
    buf
  }

  def merge(buf: Array[AnyRef], other: Array[AnyRef]): Array[AnyRef] = {
    var i = 0
    while (i < buf.length) {
      family.merge(buf(i).asInstanceOf[F], other(i).asInstanceOf[F])
      i += 1
    }
    buf
  }

  private def images(buf: Array[AnyRef]): Array[Array[Byte]] =
    buf.map(f => family.encode(f.asInstanceOf[F]))

  def result(buf: Array[AnyRef]): Any = new GenericArrayData(images(buf).toArray[Any])

  def toBytes(buf: Array[AnyRef]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(buf.length)
    images(buf).foreach { b => dos.writeInt(b.length); dos.write(b) }
    dos.flush()
    out.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): Array[AnyRef] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    Array.fill[AnyRef](in.readInt()) {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      family.decode(b)
    }
  }
}

/** Component-wise vector sum over ARRAY<FLOAT>/ARRAY<DOUBLE> — the
  * scalable pooling aggregate: the buffer is ONE double[dim] per group and
  * map-side partials merge by element-wise add, so nothing proportional to
  * GROUP SIZE is ever buffered or shuffled (a collect_list-based pool
  * buffers every member vector of a group in one aggregate row — the
  * mega-group trap exactDuplicateMembers exists to avoid). Mixed
  * dimensions in one group reject loudly (a silent truncate-or-pad would
  * corrupt every pooled embedding downstream).
  */
case object VecSum extends Sketch[Array[Double]] {
  def name: String = "vec_sum_agg"
  def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  def empty(): Array[Double] = Array.emptyDoubleArray

  def add(buf: Array[Double], value: Any, inputType: DataType): Array[Double] = {
    val a = value.asInstanceOf[ArrayData]
    val n = a.numElements()
    val b =
      if (buf.length == 0) new Array[Double](n)
      else {
        require(buf.length == n,
          s"vec_sum_agg: dimension mismatch ($n vs ${buf.length}) in one group")
        buf
      }
    val doubles = inputType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    var i = 0
    while (i < n) {
      b(i) += (if (doubles) a.getDouble(i) else a.getFloat(i).toDouble)
      i += 1
    }
    b
  }

  def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.length == 0) return buf
    if (buf.length == 0) return other
    require(buf.length == other.length,
      s"vec_sum_agg: dimension mismatch (${other.length} vs ${buf.length}) across partials")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  def result(buf: Array[Double]): Any = new GenericArrayData(buf)

  def toBytes(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asDoubleBuffer().get(out)
    out
  }
}

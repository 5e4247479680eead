package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product quantization for ANN (Jégou, Douze & Schmid, PAMI '11) — the
  * memory lever past int8: a `dim`-float vector compresses to `m` one-byte
  * codes (e.g. 384 floats = 1536 B → 8 B at m = 8), so a 10^10-vector
  * corpus's search structure fits a fraction of the raw embedding bytes,
  * and query scoring never touches the vectors at all.
  *
  *  - TRAIN: the vector splits into `m` contiguous subspaces; each
  *    subspace gets its own `ksub`-centroid codebook from L2 k-means over
  *    a deterministic sample (same spread-init discipline as
  *    [[Ann.kmeansCentroids]]; bit-reproducible — no RNG).
  *  - ENCODE: one codegen pass/row; code_j = argmin-L2 centroid of
  *    subvector j (ties → lower code). Codes come back as ARRAY<INT> for
  *    transparency; at `ksub ≤ 128` pack with `pack_int8` for the 4×
  *    storage form (the ARRAY<TINYINT>-is-INT32-in-parquet lesson —
  *    pack_int8 is SIGNED, so codes ≥ 128 need their own unsigned
  *    packer, not a silent reinterpret).
  *  - SEARCH (ADC, asymmetric distance computation): per QUERY, one
  *    m×ksub table of subspace dot products (the query side never
  *    quantizes — that is the "asymmetric" that keeps recall); per
  *    CORPUS ROW, scoring is m table lookups — no floats, no vectors on
  *    the wire, the whole rank runs on (id, code) rows. Dot-product ADC
  *    ranks cosine-compatibly for the normalized embeddings this engine
  *    produces ([[graft.functions.hash_embed]] L2-normalizes).
  *
  * Shapes: queries are the small side by contract (tables ride a
  * broadcast crossJoin like [[Ann.bruteForceTopK]]); the corpus streams
  * through one codegen lookup map and drops to 16-byte (id, score) rows
  * before the rank window. [[Pq.topKFromCodes]] is the generic kernel —
  * caller-supplied codes and tables make the whole ADC machinery
  * oracle-checkable with planted integer arithmetic (the
  * [[Ann.ivfTopKAssigned]] move).
  */
object Pq {

  /** [m][ksub][dsub] codebooks from per-subspace L2 k-means over the
    * `sampleN`-row deterministic sample. `dim` must divide by `m`.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 8, sampleN: Int = 2048): Array[Array[Array[Float]]] = {
    val sample = corpus.orderBy(col(idCol)).limit(sampleN)
      .select(transform(col(vecCol), x => x.cast("float"))).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(sample.length >= ksub, s"sample ${sample.length} < ksub $ksub")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = Array.tabulate(ksub)(c => subs((c * subs.length) / ksub).clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Int](ksub)
        for (s <- subs) {
          val c = PqEval.nearestSub(cents, s, 0)
          counts(c) += 1
          var i = 0
          while (i < dsub) { sums(c)(i) += s(i); i += 1 }
        }
        cents = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(dsub)(i => (sums(c)(i) / counts(c)).toFloat)
        }
      }
      cents
    }
  }

  /** Adds `codesCol` (ARRAY<INT>, one code per subspace). */
  def encode(corpus: DataFrame, books: PqBooks, vecCol: String,
      codesCol: String = "pq_code"): DataFrame =
    corpus.withColumn(codesCol,
      Bridge.column(PqEncode(books, Bridge.expression(col(vecCol)))))

  /** Per-query flattened ADC table (ARRAY<DOUBLE>, length m·ksub):
    * `table[j·ksub + c] = dot(query_subvec_j, codebook_j[c])`.
    */
  def adcTable(books: PqBooks, vec: Column): Column =
    Bridge.column(PqAdcTable(books, Bridge.expression(vec)))

  /** ADC score from a code array and a flattened table. */
  def adcScore(table: Column, codes: Column, ksub: Int): Column =
    Bridge.column(PqAdcLookup(Bridge.expression(table),
      Bridge.expression(codes), ksub))

  /** Generic ADC top-k over CALLER-SUPPLIED codes and query tables — the
    * oracle-checkable kernel. `codes(idCol, codesCol)`;
    * `queries(qidCol, tableCol)` is broadcast.
    */
  def topKFromCodes(codes: DataFrame, queries: DataFrame,
      idCol: String, codesCol: String, qidCol: String, tableCol: String,
      k: Int, ksub: Int): DataFrame = {
    val c = codes.select(col(idCol).as("nn_id"), col(codesCol).as("_code"))
    val q = queries.select(col(qidCol).as("q_id"), col(tableCol).as("_tab"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("score", adcScore(col("_tab"), col("_code"), ksub))
      .select(col("q_id"), col("nn_id"), col("score")) // narrow pre-window
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("score"))
  }

  /** IVF-ADC top-k over CALLER-SUPPLIED cells, codes and tables — the
    * FAISS-style IVFPQ composition: corpus rows carry (cell, codes),
    * queries probe `probeCells` and ADC-score ONLY the joined cells'
    * rows. Candidates ∝ corpus∕nlist × nProbe with m-lookup scoring —
    * at 10^10 vectors neither the vectors nor even the full code table
    * is touched per query. Oracle-checkable like [[topKFromCodes]].
    */
  def ivfAdcTopKAssigned(codes: DataFrame, queries: DataFrame,
      idCol: String, codesCol: String, cellCol: String,
      qidCol: String, tableCol: String, probeCellsCol: String,
      k: Int, ksub: Int): DataFrame = {
    val c = codes.select(col(idCol).as("nn_id"), col(codesCol).as("_code"),
      col(cellCol).as("cell"))
    // array_distinct: a caller-supplied probe list with a repeated cell
    // would score that cell's rows twice and the rank window could return
    // the same nn_id at two ranks — dedup here so the top-k contract holds
    // for arbitrary callers, not just IvfCells-produced arrays
    val q = queries.select(col(qidCol).as("q_id"), col(tableCol).as("_tab"),
      explode(array_distinct(col(probeCellsCol))).as("cell"))
    val scored = q.join(c, "cell")
      .withColumn("score", adcScore(col("_tab"), col("_code"), ksub))
      .select(col("q_id"), col("nn_id"), col("score"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nn_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("nn_id"), col("score"))
  }

  /** Production IVFPQ: IVF coarse cells from [[Ann.kmeansCentroids]],
    * PQ codebooks from [[train]], corpus carries (cell, codes), queries
    * probe their `nProbe` nearest cells with ADC tables.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      iters: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val cents = new IvfCentroids(spark.sparkContext.broadcast(
      Ann.kmeansCentroids(corpus, idCol, vecCol, nlist, iters)))
    def cellsOf(vec: Column, probes: Int): Column =
      Bridge.column(graft.functions.IvfCells(cents, Bridge.expression(vec), probes))
    val books = new PqBooks(spark.sparkContext.broadcast(
      train(corpus, idCol, vecCol, m, ksub, iters)))
    val codes = encode(corpus, books, vecCol)
      .withColumn("_cell", element_at(cellsOf(col(vecCol), 1), 1))
    val q = queries.select(col(qidCol),
      adcTable(books, col(vecCol)).as("_tab"),
      cellsOf(col(vecCol), nProbe).as("_probe"))
    ivfAdcTopKAssigned(codes, q, idCol, "pq_code", "_cell",
      qidCol, "_tab", "_probe", k, ksub)
  }

  /** End-to-end PQ top-k: train (unless codebooks are supplied), encode
    * the corpus once, table the queries once, rank on codes.
    */
  def topK(corpus: DataFrame, queries: DataFrame,
      idCol: String, qidCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 8,
      booksOpt: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val spark = corpus.sparkSession
    val raw = booksOpt.getOrElse(train(corpus, idCol, vecCol, m, ksub, iters))
    val books = new PqBooks(spark.sparkContext.broadcast(raw))
    val codes = encode(corpus, books, vecCol)
    val q = queries.select(col(qidCol),
      adcTable(books, col(vecCol)).as("_tab"))
    topKFromCodes(codes, q, idCol, "pq_code", qidCol, "_tab", k, ksub)
  }
}

/** Broadcast codebooks with the per-deserialized-instance memo (the
  * [[IvfCentroids]] pattern — keeps the broadcast `value()` call off the
  * per-row path).
  */
final class PqBooks(
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Float]]]]) extends Serializable {
  @transient private var local: Array[Array[Array[Float]]] = _
  def mat: Array[Array[Array[Float]]] = {
    var m = local
    if (m == null) { m = bc.value; local = m }
    m
  }
}

object PqEval {
  /** argmin-L2 centroid for the subvector starting at `off` (ties → lower
    * code).
    */
  def nearestSub(cents: Array[Array[Float]], v: Array[Float], off: Int): Int = {
    val dsub = cents(0).length
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cents.length) {
      var d = 0.0; var i = 0
      while (i < dsub) {
        val diff = v(off + i).toDouble - cents(c)(i)
        d += diff * diff; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def toFloats(v: ArrayData, isDouble: Boolean): Array[Float] =
    if (isDouble) v.toDoubleArray().map(_.toFloat) else v.toFloatArray()

  def encode(books: PqBooks, v: ArrayData, isDouble: Boolean): ArrayData = {
    val b = books.mat
    val vec = toFloats(v, isDouble)
    val m = b.length
    val dsub = b(0)(0).length
    require(vec.length == m * dsub,
      s"vector dim ${vec.length} != m*dsub ${m * dsub}")
    val out = new Array[Int](m)
    var j = 0
    while (j < m) { out(j) = nearestSub(b(j), vec, j * dsub); j += 1 }
    new GenericArrayData(out)
  }

  def table(books: PqBooks, v: ArrayData, isDouble: Boolean): ArrayData = {
    val b = books.mat
    val vec = toFloats(v, isDouble)
    val m = b.length
    val ksub = b(0).length
    val dsub = b(0)(0).length
    require(vec.length == m * dsub,
      s"vector dim ${vec.length} != m*dsub ${m * dsub}")
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        var dot = 0.0; var i = 0
        while (i < dsub) { dot += vec(j * dsub + i).toDouble * b(j)(c)(i); i += 1 }
        out(j * ksub + c) = dot
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  def lookup(table: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    // fail fast on a ksub mismatch: a wrong ksub would otherwise read
    // plausible-but-wrong slots (cross-subspace, or off the end of the
    // unsafe array — garbage, not an exception)
    require(table.numElements() == m * ksub,
      s"ADC table has ${table.numElements()} entries, codes need ${m * ksub}")
    var s = 0.0; var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      require(c >= 0 && c < ksub, s"code $c out of range [0, $ksub)")
      s += table.getDouble(j * ksub + c)
      j += 1
    }
    s
  }
}

/** vec → ARRAY<INT> PQ codes (one codegen pass/row). */
case class PqEncode(books: PqBooks, child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def nullSafeEval(v: Any): Any =
    PqEval.encode(books, v.asInstanceOf[ArrayData], elemIsDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftPqBooks", books, classOf[PqBooks].getName)
    defineCodeGen(ctx, ev, c => s"graft.ann.PqEval.encode($ref, $c, $elemIsDouble)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** query vec → flattened m·ksub ADC table (once per query row). */
case class PqAdcTable(books: PqBooks, child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  private def elemIsDouble: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def nullSafeEval(v: Any): Any =
    PqEval.table(books, v.asInstanceOf[ArrayData], elemIsDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftPqBooks", books, classOf[PqBooks].getName)
    defineCodeGen(ctx, ev, c => s"graft.ann.PqEval.table($ref, $c, $elemIsDouble)")
  }
  override protected def withNewChildInternal(c: Expression): PqAdcTable = copy(child = c)
  override def prettyName: String = "pq_adc_table"
}

/** (table ARRAY<DOUBLE>, codes ARRAY<INT>) → ADC score: m lookups, no
  * vectors anywhere near the hot path.
  */
case class PqAdcLookup(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  require(ksub >= 1, s"ksub: $ksub")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(t: Any, c: Any): Any =
    PqEval.lookup(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, c) => s"graft.ann.PqEval.lookup($t, $c, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcLookup =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc"
}

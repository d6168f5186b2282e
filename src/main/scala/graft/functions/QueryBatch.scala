package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** A search request's query rows, collected once on the driver and
  * scored against ONE corpus row per call ([[ScoreBatch]]): the row is
  * decoded once, its own reductions (norm, PQ codes, sign buckets) run
  * once, and every query of the batch is scored in the same call.
  *
  * Why not `crossJoin(broadcast(queries))`: whole-stage codegen defers
  * a deterministic projection to its first use, and the first use of a
  * corpus-side column is inside the nested-loop join's loop over the
  * query rows — so a per-row kernel projected below the join runs once
  * per (row, query) pair. Measured on 64,000 rows × 5 queries: 319,995
  * `PqOps.encode` calls for pq_topk and 639,995 `DotF32` calls for
  * cosine_topk (`|e|` refolded per pair); scored here it is one encode
  * and one norm per row. The same holds for any join that can match a
  * streamed row more than once, so a per-row kernel never sits on the
  * streamed side of such a join.
  *
  * Each batch emits, per (row, query) pair it scores, a struct of
  * `query_id` and the pair's REDUCTIONS (dot products, norms, ADC sums)
  * — never the final score: the scalar formula that turns them into a
  * score stays the Catalyst expression the per-pair plan evaluated
  * (guarded divide, `greatest`, `round`), so null, zero and ANSI
  * semantics are Spark's by construction and every reduction
  * accumulates in the order of the kernel it replaces ([[DotF32]],
  * [[PqOps.adc]]), which makes the scores bit-identical.
  *
  * A PROBED batch (`cellSlots` set: the IVF search paths) scores a row
  * only against the queries that probe the row's cell — the slots the
  * driver resolved for that cell ([[ScoreProbed]]) — which is what the
  * per-pair `join(probed, "__cell")` plan it replaces matched.
  */
abstract class QueryBatch extends Serializable {

  /** One id per query row. An id may repeat (a duplicated corpus id
    * yields one query row per copy, as the joined plans had). */
  def ids: Array[Long]

  /** The per-pair double fields emitted after `query_id`. */
  def fields: Seq[String]

  /** Whether the kernel accepts this input column type. */
  def inputOk(dt: DataType): Boolean

  /** Per cell id, the ascending query slots that probe it (null: none);
    * null for a batch that scores every row against every query. */
  def cellSlots: Array[Array[Int]]

  /** The pairs of one non-null-id row against the queries at `slots`
    * (null: every query). */
  protected def score(row: ArrayData, rowFloat: Boolean, rowId: Long,
      slots: Array[Int]): ArrayData

  /** Generated-code entry point: a row with a null id matches no query
    * (the per-pair plan's `neighbor_id <> query_id` dropped it). */
  final def scoreRow(row: ArrayData, rowFloat: Boolean, idNull: Boolean,
      rowId: Long): ArrayData =
    if (idNull) QueryBatch.Empty else score(row, rowFloat, rowId, null)

  /** Generated-code entry point of a probed batch: the row is scored
    * against the queries probing its cell; a null or unprobed cell
    * matches none. */
  final def scoreInCell(row: ArrayData, rowFloat: Boolean, idNull: Boolean,
      rowId: Long, cellNull: Boolean, cell: Int): ArrayData =
    if (idNull || cellNull || cell < 0 || cell >= cellSlots.length ||
        cellSlots(cell) == null) QueryBatch.Empty
    else score(row, rowFloat, rowId, cellSlots(cell))

  override def toString: String =
    s"${getClass.getSimpleName}(${ids.length} queries)"
}

object QueryBatch {

  private[functions] val Empty: ArrayData =
    new GenericArrayData(Array.empty[Any])

  /** Widen a vector to double once — float → double exactly as
    * [[DotF32]], [[PqOps]] and [[SignBuckets]] widen per element — into
    * `out`; returns the index of the first null element, or -1. */
  def decode(v: ArrayData, vFloat: Boolean, out: Array[Double]): Int = {
    var firstNull = -1
    var i = out.length - 1
    while (i >= 0) {
      if (v.isNullAt(i)) firstNull = i
      else out(i) = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i -= 1
    }
    firstNull
  }

  /** A collected query vector (Row elements, boxed, nullable) widened
    * the same way; `null` for a null vector. The flag says whether an
    * element is null. */
  def decodeCollected(v: scala.collection.Seq[Any]): (Array[Double], Boolean) =
    if (v == null) (null, false)
    else {
      val out = new Array[Double](v.length)
      var hasNull = false
      var i = 0
      v.foreach { e =>
        if (e == null) hasNull = true
        else out(i) = e.asInstanceOf[Number].doubleValue()
        i += 1
      }
      (out, hasNull)
    }

  /** The sequential fold [[DotF32.eval]] computes, over decoded vectors
    * of equal length without nulls. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def vectorOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** A driver-held query vector (catalyst array, nullable) widened as
    * [[decodeCollected]] widens a collected one. */
  def decodeVector(v: ArrayData, vFloat: Boolean): (Array[Double], Boolean) =
    if (v == null) (null, false)
    else {
      val out = new Array[Double](v.numElements())
      (out, decode(v, vFloat, out) >= 0)
    }

  /** Invert per-query cell lists into [[QueryBatch.cellSlots]]: per cell
    * id below `nCells`, the ascending slots of the queries probing it. */
  def slotsByCell(cells: Seq[Seq[Int]], nCells: Int): Array[Array[Int]] = {
    val b = Array.fill(nCells)(Array.newBuilder[Int])
    for ((cs, q) <- cells.zipWithIndex; c <- cs) b(c) += q
    b.map { x => val a = x.result(); if (a.isEmpty) null else a }
  }

  private[functions] def pairs(out: Array[Any], n: Int): ArrayData =
    if (n == 0) Empty
    else new GenericArrayData(
      if (n == out.length) out else out.take(n))

  /** Cosine reductions: `dot` = DotF32(row, query), `ne` = sqrt(|row|²)
    * (once per row), `nq` = the query's norm as the driver evaluated
    * it. A null row, a null element or a length mismatch gives the null
    * reductions DotF32 gives. */
  final class Cosine(val ids: Array[Long], qs: Array[Array[Double]],
      qNull: Array[Boolean], nq: Array[java.lang.Double],
      val cellSlots: Array[Array[Int]] = null)
      extends QueryBatch {

    def fields: Seq[String] = Seq("dot", "ne", "nq")
    def inputOk(dt: DataType): Boolean = vectorOk(dt)

    protected def score(row: ArrayData, rowFloat: Boolean,
        rowId: Long, slots: Array[Int]): ArrayData = {
      var x: Array[Double] = null
      var ne: java.lang.Double = null
      if (row != null) {
        x = new Array[Double](row.numElements())
        if (decode(row, rowFloat, x) < 0) ne = Math.sqrt(dot(x, x))
        else x = null
      }
      val nSlots = if (slots == null) ids.length else slots.length
      val out = new Array[Any](nSlots)
      var n = 0
      var i = 0
      while (i < nSlots) {
        val q = if (slots == null) i else slots(i)
        if (ids(q) != rowId) {
          val v = qs(q)
          val d: java.lang.Double =
            if (x != null && v != null && !qNull(q) && v.length == x.length)
              dot(x, v)
            else null
          out(n) = new GenericInternalRow(Array[Any](ids(q), d, ne, nq(q)))
          n += 1
        }
        i += 1
      }
      pairs(out, n)
    }
  }

  /** PQ asymmetric-distance sums from per-query lookup tables
    * ([[PqOps.adcTable]], built once on the driver): `adc` = Σ_j
    * table(j·k + code_j), the sum [[PqOps.adc]] forms, in the same
    * order. The input is the row's codes (one [[PqEncode]] per row);
    * null or invalid codes, and queries without a table (null element,
    * wrong length), score no pair — the per-pair ADC was null there,
    * and the ranking skips nulls. */
  final class PqAdc(val ids: Array[Long], tables: Array[Array[Double]],
      m: Int, k: Int, val cellSlots: Array[Array[Int]] = null)
      extends QueryBatch {

    def fields: Seq[String] = Seq("adc")
    def inputOk(dt: DataType): Boolean = dt match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }

    protected def score(codes: ArrayData, rowFloat: Boolean,
        rowId: Long, slots: Array[Int]): ArrayData = {
      if (codes == null || codes.numElements() != m) return Empty
      val c = new Array[Int](m)
      var j = 0
      while (j < m) {
        if (codes.isNullAt(j)) return Empty
        c(j) = codes.getInt(j)
        if (c(j) < 0 || c(j) >= k) return Empty
        j += 1
      }
      val nSlots = if (slots == null) ids.length else slots.length
      val out = new Array[Any](nSlots)
      var n = 0
      var i = 0
      while (i < nSlots) {
        val q = if (slots == null) i else slots(i)
        val t = tables(q)
        if (t != null && ids(q) != rowId) {
          var s = 0.0
          j = 0
          while (j < m) { s += t(j * k + c(j)); j += 1 }
          out(n) = new GenericInternalRow(Array[Any](ids(q), s))
          n += 1
        }
        i += 1
      }
      pairs(out, n)
    }
  }

  /** Sign-bucket collision + L2 reductions: a pair is scored when the
    * row and the query share a bucket id in ANY table (the row's
    * buckets computed once per row by [[SignBuckets.bucketsOf]]), and
    * emits `qq` = |q|² (driver-evaluated), `ee` = |e|², `qe` = q·e with
    * DotF32's null semantics. A row without buckets (null vector, null
    * element among the first `dim`, shorter than `dim`) collides with
    * nothing, as do queries without buckets. */
  final class SignBucket(val ids: Array[Long], qs: Array[Array[Double]],
      qNull: Array[Boolean], qq: Array[java.lang.Double],
      qBuckets: Array[Array[Long]], planes: Array[Float], numTables: Int,
      bitsPerTable: Int, dim: Int) extends QueryBatch {

    def fields: Seq[String] = Seq("qq", "ee", "qe")
    def inputOk(dt: DataType): Boolean = vectorOk(dt)
    def cellSlots: Array[Array[Int]] = null

    protected def score(row: ArrayData, rowFloat: Boolean,
        rowId: Long, slots: Array[Int]): ArrayData = {
      if (row == null || row.numElements() < dim) return Empty
      val x = new Array[Double](row.numElements())
      val firstNull = decode(row, rowFloat, x)
      if (firstNull >= 0 && firstNull < dim) return Empty
      val b = SignBuckets.bucketsOf(x, planes, numTables, bitsPerTable, dim)
      val ee: java.lang.Double = if (firstNull < 0) dot(x, x) else null
      val nSlots = if (slots == null) ids.length else slots.length
      val out = new Array[Any](nSlots)
      var n = 0
      var i = 0
      while (i < nSlots) {
        val q = if (slots == null) i else slots(i)
        val qb = qBuckets(q)
        if (qb != null && ids(q) != rowId) {
          var t = 0
          while (t < numTables && qb(t) != b(t)) t += 1
          if (t < numTables) {
            val v = qs(q)
            val qe: java.lang.Double =
              if (firstNull < 0 && !qNull(q) && v.length == x.length) dot(v, x)
              else null
            out(n) = new GenericInternalRow(Array[Any](ids(q), qq(q), ee, qe))
            n += 1
          }
        }
        i += 1
      }
      pairs(out, n)
    }
  }

  /** Column API: array<struct<query_id, fields…>> of one row's pairs;
    * `id` is the row's id as a long. */
  def scoreBatch(vec: Column, id: Column, batch: QueryBatch): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(ScoreBatch(ColumnBridge.expression(vec),
      ColumnBridge.expression(id), batch))
  }

  /** [[scoreBatch]] for a probed batch: `cell` is the row's int cell. */
  def scoreProbed(vec: Column, id: Column, cell: Column,
      batch: QueryBatch): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(batch.cellSlots != null, s"$batch is not probed")
    ColumnBridge.column(ScoreProbed(ColumnBridge.expression(vec),
      ColumnBridge.expression(id), ColumnBridge.expression(cell), batch))
  }
}

/** What [[ScoreBatch]] and [[ScoreProbed]] share: the pair type and the
  * input checks. The batch is bound into generated code as one
  * reference object, so the code is the same for every request of the
  * plan's shape — no query value is ever inlined — and expression
  * equality degrades to reference equality on it. */
sealed trait ScoresBatch extends Expression {
  def vec: Expression
  def id: Expression
  def batch: QueryBatch

  override def dataType: DataType = ArrayType(
    // query ids come from the id column the rows are read from
    StructType(StructField("query_id", LongType, nullable = id.nullable) +:
      batch.fields.map(StructField(_, DoubleType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false

  protected def extraInputsOk: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (batch.inputOk(vec.dataType) && id.dataType == LongType &&
        extraInputsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"score_batch: unsupported inputs " +
          children.map(_.dataType.simpleString(10)).mkString("(", ", ", ")") +
          s" for $batch")

  protected def rowFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  protected def batchRef(ctx: CodegenContext): String =
    ctx.addReferenceObj("queryBatch", batch, classOf[QueryBatch].getName)
}

/** See [[QueryBatch]]: one row against every query of the batch. */
case class ScoreBatch(vec: Expression, id: Expression, batch: QueryBatch)
    extends BinaryExpression with ScoresBatch {

  override def left: Expression = vec
  override def right: Expression = id

  override def eval(input: InternalRow): Any = {
    val i = id.eval(input)
    batch.scoreRow(vec.eval(input).asInstanceOf[ArrayData], rowFloat,
      i == null, if (i == null) 0L else i.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = batchRef(ctx)
    val v = vec.genCode(ctx)
    val i = id.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${i.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.scoreRow(
      |  ${v.isNull} ? null : ${v.value}, $rowFloat, ${i.isNull}, ${i.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ScoreBatch = copy(vec = newLeft, id = newRight)
}

/** See [[QueryBatch]]: one row against the queries probing its `cell`
  * ([[QueryBatch.cellSlots]]). */
case class ScoreProbed(vec: Expression, id: Expression, cell: Expression,
    batch: QueryBatch) extends TernaryExpression with ScoresBatch {

  override def first: Expression = vec
  override def second: Expression = id
  override def third: Expression = cell

  override protected def extraInputsOk: Boolean =
    cell.dataType == IntegerType && batch.cellSlots != null

  override def eval(input: InternalRow): Any = {
    val i = id.eval(input)
    val c = cell.eval(input)
    batch.scoreInCell(vec.eval(input).asInstanceOf[ArrayData], rowFloat,
      i == null, if (i == null) 0L else i.asInstanceOf[Long],
      c == null, if (c == null) 0 else c.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = batchRef(ctx)
    val v = vec.genCode(ctx)
    val i = id.genCode(ctx)
    val c = cell.genCode(ctx)
    ev.copy(code = code"""
      |${v.code}
      |${i.code}
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.scoreInCell(
      |  ${v.isNull} ? null : ${v.value}, $rowFloat, ${i.isNull}, ${i.value},
      |  ${c.isNull}, ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): ScoreProbed =
    copy(vec = newFirst, id = newSecond, cell = newThird)
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native product-quantization kernels: per-subspace nearest-codeword
  * encoding ([[PqEncode]]) and asymmetric-distance scoring
  * ([[PqAdc]]), with the codebook bound into the expression as a flat
  * float array (referenced from generated code via `addReferenceObj`,
  * never re-serialized per row).
  *
  * Drop-in replacements for the HOF forms with BIT-IDENTICAL results —
  * `transform(typedLit(cb), c => aggregate(zip_with(v, c, (a,b) =>
  * (a.cast(double)-b)²), 0.0, _+_))` + `array_position(d,
  * array_min(d))` for encode, and the `element_at`-indexed fold for
  * ADC: distances accumulate per codeword in element order as doubles,
  * subspaces sum in ascending j, and argmin ties break to the LOWEST
  * code (strict `<` on an ascending scan == array_position's first
  * minimum). A null element or a length mismatch yields NULL (the
  * zip_with null-padding / null-poisoning semantics, as [[DotF32]]).
  *
  * Why Expressions (the §2.11 ladder, rung b): the HOF encode
  * evaluates m·k interpreted aggregate-fold closures per row — ~4 ms
  * per row at m=4, k=256 (measured r11: the codes projection was 7 s
  * of ivfpq_topk's 10 s at sf0.1, hidden from `count()`-style probes
  * by column pruning). At 100 TB the encode IS the corpus-sized work
  * of IVFPQ ingestion; this form is a branch-free primitive loop
  * (k·dim FMAs per row) inside whole-stage codegen, allocating one
  * int array per row.
  *
  * The encode is a per-row kernel, so it never sits on the streamed
  * side of a nested-loop or multi-match join: codegen would defer it
  * into the join's loop and re-run it per match (319,995 encodes for
  * 64,000 rows × 5 queries under `crossJoin(broadcast(queries))`).
  * A query batch is scored inside one per-row kernel instead
  * ([[QueryBatch.PqAdc]]: one encode per row, then m lookups per query
  * into [[adcTable]]s built once on the driver — 64,000 encodes).
  *
  * North-star extension (similarity-search family) — the reference has
  * zero custom functions (reference: src/feature_engineering.py:7).
  */
object PqOps {

  /** Flatten a per-subspace codebook (m × k × sub) into the layout the
    * kernels index: `cb(j*k*sub + c*sub + i)`. Validates rectangular
    * shape; k may legitimately be smaller than requested (a corpus
    * with fewer distinct points than codewords).
    */
  def flatten(codebook: Seq[Seq[Seq[Float]]]): (Array[Float], Int, Int, Int) = {
    val m = codebook.size
    require(m >= 1, "codebook must have at least one subspace")
    val k = codebook.head.size
    val sub = codebook.head.head.size
    require(codebook.forall(_.size == k) &&
      codebook.forall(_.forall(_.size == sub)),
      "codebook must be rectangular (same k and subvector dim everywhere)")
    val flat = new Array[Float](m * k * sub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        var i = 0
        while (i < sub) {
          flat(j * k * sub + c * sub + i) = codebook(j)(c)(i); i += 1 }
        c += 1
      }
      j += 1
    }
    (flat, m, k, sub)
  }

  /** Column API: codes array<int> of length m for a full vector. */
  def pqEncode(vec: Column, codebook: Seq[Seq[Seq[Float]]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val (flat, m, k, sub) = flatten(codebook)
    ColumnBridge.column(
      PqEncode(ColumnBridge.expression(vec), flat, m, k, sub))
  }

  /** Column API: exact squared L2 from a full vector to the
    * reconstruction encoded by `codes` (asymmetric distance). */
  def pqAdc(vec: Column, codes: Column,
      codebook: Seq[Seq[Seq[Float]]]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    val (flat, m, k, sub) = flatten(codebook)
    ColumnBridge.column(
      PqAdc(ColumnBridge.expression(vec), ColumnBridge.expression(codes),
        flat, m, k, sub))
  }

  private[functions] def elementOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private[functions] def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  /** Shared encode kernel (interpreted eval AND generated code — see
    * DotF32's companion note on `MODULE$`). Returns null on length
    * mismatch or null element. The row is widened to double ONCE
    * ([[QueryBatch.decode]]) and the k·m codeword scans run over the
    * primitive copy — the same doubles, so the same codes as reading
    * each element k times. */
  def encode(v: ArrayData, vFloat: Boolean, cb: Array[Float],
      m: Int, k: Int, sub: Int): ArrayData = {
    if (v.numElements() != m * sub) return null
    val x = new Array[Double](m * sub)
    if (QueryBatch.decode(v, vFloat, x) >= 0) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        var d = 0.0
        var i = 0
        while (i < sub) {
          val t = x(j * sub + i) - cb(j * k * sub + c * sub + i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    ArrayData.toArrayData(codes)
  }

  /** Per-query ADC lookup table (Jégou et al., TPAMI 2011):
    * `t(j·k + c)` = squared L2 from subvector j of the decoded query
    * `x` (length m·sub, no nulls) to codeword c — the per-subspace sum
    * [[adc]] accumulates, in the same element order, so Σ_j
    * t(j·k + code_j) added in ascending j IS `adc` bit for bit. Built
    * once per query on the driver; scoring a row is then m lookups per
    * query instead of m·sub multiply-adds ([[QueryBatch.PqAdc]]). */
  def adcTable(x: Array[Double], cb: Array[Float], m: Int, k: Int,
      sub: Int): Array[Double] = {
    require(x.length == m * sub, "query length must be m * sub")
    val t = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        var d = 0.0
        var i = 0
        while (i < sub) {
          val e = x(j * sub + i) - cb(j * k * sub + c * sub + i)
          d += e * e
          i += 1
        }
        t(j * k + c) = d
        c += 1
      }
      j += 1
    }
    t
  }

  /** Shared ADC kernel. Returns null Double on bad codes/lengths. */
  def adc(v: ArrayData, vFloat: Boolean, codes: ArrayData,
      cb: Array[Float], m: Int, k: Int, sub: Int): java.lang.Double = {
    if (v.numElements() != m * sub || codes.numElements() != m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = codes.getInt(j)
      if (c < 0 || c >= k) return null
      var d = 0.0
      var i = 0
      while (i < sub) {
        if (v.isNullAt(j * sub + i)) return null
        val x = if (vFloat) v.getFloat(j * sub + i).toDouble
                else v.getDouble(j * sub + i)
        val t = x - cb(j * k * sub + c * sub + i)
        d += t * t
        i += 1
      }
      s += d
      j += 1
    }
    s
  }
}

/** See [[PqOps]]. `codebook` is a constructor-bound flat array (not a
  * child Literal): generated code reaches it through a plan reference,
  * and expression equality degrades to reference equality on it — at
  * worst a missed common-subexpression elimination, never wrong
  * results. */
case class PqEncode(child: Expression, codebook: Array[Float],
    m: Int, k: Int, sub: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (PqOps.elementOk(child.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_encode requires an array<float>/array<double> vector, got " +
          child.dataType.simpleString(10))

  override def nullSafeEval(v: Any): Any =
    PqOps.encode(v.asInstanceOf[ArrayData],
      PqOps.isFloat(child.dataType), codebook, m, k, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    val vf = PqOps.isFloat(child.dataType)
    nullSafeCodeGen(ctx, ev, v => s"""
      |${ev.value} = graft.functions.PqOps$$.MODULE$$.encode(
      |  $v, $vf, $cbRef, $m, $k, $sub);
      |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** See [[PqOps]]. */
case class PqAdc(left: Expression, right: Expression, codebook: Array[Float],
    m: Int, k: Int, sub: Int) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def codesOk(dt: DataType): Boolean = dt match {
    case ArrayType(IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (PqOps.elementOk(left.dataType) && codesOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires (array<float>/array<double> vector, array<int> " +
          s"codes), got (${left.dataType.simpleString(10)}, " +
          s"${right.dataType.simpleString(10)})")

  override def nullSafeEval(v: Any, c: Any): Any =
    PqOps.adc(v.asInstanceOf[ArrayData], PqOps.isFloat(left.dataType),
      c.asInstanceOf[ArrayData], codebook, m, k, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    val vf = PqOps.isFloat(left.dataType)
    nullSafeCodeGen(ctx, ev, (v, c) => s"""
      |java.lang.Double ${ev.value}Boxed =
      |  graft.functions.PqOps$$.MODULE$$.adc($v, $vf, $c, $cbRef, $m, $k, $sub);
      |if (${ev.value}Boxed == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ${ev.value}Boxed.doubleValue();
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdc = copy(left = newLeft, right = newRight)
}

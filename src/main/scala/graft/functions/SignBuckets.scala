package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** All sign-random-projection LSH bucket ids of an embedding in one
  * native Catalyst expression: for each of `numTables` hash tables,
  * packs the signs of `bitsPerTable` hyperplane dot products into one
  * long bucket id, returning `array<long>` (one id per table, index =
  * table).
  *
  * Why an Expression rather than composing [[DotF32]]: the composed
  * form inlines `numTables · bitsPerTable` dot-product calls plus a
  * when/otherwise bit-OR chain into the generated stage — at 4×4 that
  * is ~2.5 s of one-time janino compilation before the first row flows.
  * Here the plane matrix rides along as a codegen reference object and
  * the generated code is ONE static call into a tight flat-array loop:
  * nothing to compile, nothing allocated per row but the small output
  * array.
  *
  * Numerics match the composed DotF32 form bit-for-bit: each dot
  * accumulates float→double products in index order; `>= 0` sets the
  * bit. Null element or a vector shorter than the planes' dim yields
  * NULL (DotF32's null-poisoning convention).
  *
  * North-star extension (similarity-search family) — the reference has
  * zero custom functions (reference: src/feature_engineering.py:7).
  */
case class SignBuckets(child: Expression, planes: Array[Float],
    numTables: Int, bitsPerTable: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_buckets requires an array<float>/array<double> input, " +
            s"got ${other.simpleString(10)}")
    }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    SignBuckets.eval(v.asInstanceOf[ArrayData], planes, numTables,
      bitsPerTable, dim, isFloat)

  // companion referenced as SignBuckets$.MODULE$ — see DotF32.scala:57
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[]")
    val f = isFloat
    nullSafeCodeGen(ctx, ev, v => s"""
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}Res =
      |  graft.functions.SignBuckets$$.MODULE$$.eval(
      |    $v, $planesRef, $numTables, $bitsPerTable, $dim, $f);
      |if (${ev.value}Res == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ${ev.value}Res;
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBuckets =
    copy(child = newChild)
}

object SignBuckets {

  /** Shared by interpreted eval and generated code. `planes` is the
    * flattened (numTables · bitsPerTable · dim) matrix, table-major.
    * Returns null if the vector is shorter than `dim` or has a null
    * element among the first `dim` (null-poisoning, as DotF32).
    */
  def eval(v: ArrayData, planes: Array[Float], numTables: Int,
      bitsPerTable: Int, dim: Int, vFloat: Boolean): ArrayData = {
    if (v.numElements() < dim) return null
    val x = new Array[Double](dim)
    if (QueryBatch.decode(v, vFloat, x) >= 0) return null
    ArrayData.toArrayData(bucketsOf(x, planes, numTables, bitsPerTable, dim))
  }

  /** The bucket ids of a vector already widened to double
    * ([[QueryBatch.decode]], first `dim` elements non-null): each
    * element is read once per row instead of once per hyperplane, and
    * every dot accumulates the same products in the same order. */
  def bucketsOf(x: Array[Double], planes: Array[Float], numTables: Int,
      bitsPerTable: Int, dim: Int): Array[Long] = {
    val out = new Array[Long](numTables)
    var off = 0
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var b = 0
      while (b < bitsPerTable) {
        var s = 0.0
        var j = 0
        while (j < dim) {
          s += x(j) * planes(off + j)
          j += 1
        }
        if (s >= 0) bucket |= (1L << b)
        off += dim
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    out
  }

  /** Column-API entry point; `planes(t)(b)` is hyperplane b of table t. */
  def signBuckets(v: Column, planes: Array[Array[Array[Float]]]): Column = {
    require(planes.nonEmpty && planes.head.nonEmpty
      && planes.head.head.nonEmpty, "planes must be (tables)(bits)(dim)")
    val numTables = planes.length
    val bitsPerTable = planes.head.length
    val dim = planes.head.head.length
    require(planes.forall(t => t.length == bitsPerTable
      && t.forall(_.length == dim)), "ragged plane matrix")
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(SignBuckets(ColumnBridge.expression(v),
      planes.flatten.flatten.toArray, numTables, bitsPerTable, dim))
  }
}

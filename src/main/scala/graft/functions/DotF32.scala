package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Sequential-fold dot product of two float/double array columns in
  * double, as a native Catalyst expression.
  *
  * Drop-in replacement for the HOF form
  * `aggregate(zip_with(x, y, (p, q) => p.cast(double) * q.cast(double)),
  * 0.0, _ + _)` with BIT-IDENTICAL results: products accumulate in index
  * order as doubles, a length mismatch or any null element yields NULL
  * (exactly what zip_with's null-padding + null-poisoning fold does).
  * Each side may independently be `array<float>` or `array<double>` —
  * the float→double widening is exact, like the HOF's cast.
  *
  * Why an Expression: the HOF materializes an intermediate
  * `array<double>` per evaluation — for the cosine family that's one
  * throwaway 64-element array per PAIR of an all-pairs or top-k scan.
  * This form is a tight primitive loop over the two `ArrayData`, stays
  * inside whole-stage codegen via `doGenCode`, and allocates nothing.
  *
  * North-star extension (similarity-search family) — the reference has
  * zero custom functions (reference: src/feature_engineering.py:7).
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elementOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elementOk(left.dataType) && elementOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_f32 requires array<float>/array<double> inputs, got " +
          s"(${left.dataType.simpleString(10)}, " +
          s"${right.dataType.simpleString(10)})")

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    DotF32.eval(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))

  // NB: the companion must be referenced as DotF32$.MODULE$ — scalac
  // emits no static `eval` forwarder on the class because Expression
  // already declares eval(InternalRow), and the bare class reference
  // fails janino compilation (silent per-record interpreter fallback)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (lf, rf) = (isFloat(left.dataType), isFloat(right.dataType))
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |java.lang.Double ${ev.value}Boxed =
      |  graft.functions.DotF32$$.MODULE$$.eval($a, $b, $lf, $rf);
      |if (${ev.value}Boxed == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ${ev.value}Boxed.doubleValue();
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotF32 = copy(left = newLeft, right = newRight)
}

object DotF32 {
  /** Shared by interpreted eval and generated code. Returns a boxed
    * Double (null on length mismatch or null element — the zip_with
    * null-padding / null-poisoning semantics). `aFloat`/`bFloat` say
    * whether each side's elements are float (vs double).
    */
  def eval(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** Column-API entry point. Wraps the expression directly (no
    * session-registry side effect — a Column built here resolves on
    * whichever session eventually executes it).
    */
  def dotF32(x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      DotF32(ColumnBridge.expression(x), ColumnBridge.expression(y)))
  }
}

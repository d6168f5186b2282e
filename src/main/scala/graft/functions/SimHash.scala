package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** SimHash of a token array over `hash.bits` bits, as a native Catalyst
  * expression.
  *
  * Per row: each token's [[TokenHash]] word votes +1/−1 on every bit
  * position; the output sets bit b iff the vote sum is positive.
  * Near-duplicate documents then differ in few bits (compare with
  * `bit_count(a ^ b)` / hamming distance). All arithmetic is integer,
  * so no float boundary can flip a bit. With [[TokenHash.Murmur]] the
  * signature is 64 bits; with [[TokenHash.Md5_60]] it is 60 bits that
  * DuckDB re-derives exactly (the catalog's `simhash_*` entries).
  *
  * Implemented as an Expression rather than explode+groupBy because the
  * relational form multiplies the corpus 64× (tokens × bit positions)
  * before re-aggregating — a shuffle of ~64 × corpus size. This form is
  * a single projection: no shuffle, no UDF serialization overhead, and
  * `doGenCode` keeps it inside whole-stage codegen.
  *
  * North-star extension (dedup family) — not present in the reference
  * (which has zero custom functions, reference: src/feature_engineering.py:7).
  */
case class SimHash64(child: Expression, hash: TokenHash = TokenHash.Murmur)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got ${other.simpleString(10)}")
    }

  override def nullSafeEval(v: Any): Any =
    SimHash64.eval(v.asInstanceOf[ArrayData], hash)

  // NB: the companion must be referenced as SimHash64$.MODULE$ — scalac
  // emits no static `eval` forwarder on the class because Expression
  // already declares eval(InternalRow); the bare class reference fails
  // janino compilation, which silently fell back to interpreted eval
  // per record (a WARN in the logs, not an error)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64$$.MODULE$$.eval($c, ${hash.ref});")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** The Murmur kernel (the SQL `simhash64`). */
  def eval(arr: ArrayData): Long = eval(arr, TokenHash.Murmur)

  /** Shared by interpreted eval and generated code. Null tokens cast
    * no vote; an empty (or all-null) array signs as 0. */
  def eval(arr: ArrayData, hash: TokenHash): Long = {
    val bits = hash.bits
    val votes = new Array[Int](bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val w = hash.word(arr.getUTF8String(i))
        var b = 0
        while (b < bits) {
          if (((w >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column-API entry point: `simhash64(split(lower(text), " "))`.
    * Wraps the expression directly (no session-registry side effect).
    */
  def simhash64(tokens: Column,
      hash: TokenHash = TokenHash.Murmur): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens), hash))
  }
}

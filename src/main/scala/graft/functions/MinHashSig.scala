package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** k-permutation MinHash signature of a token array, as a native
  * Catalyst expression: `minhash_sig(tokens, k, seed)` → `array<long>`
  * of `k` signature values.
  *
  * Per row: value i of the signature is the min over tokens of member
  * i of the [[TokenHash]] family. With [[TokenHash.Murmur]] that is
  * `mix64(base ^ c_i)`, `base` one 64-bit Murmur word per token and
  * `c_i = splitmix64(seed + i)` — the standard "one hash, k cheap
  * permutations" construction (Broder'97 resemblance sketches). With
  * [[TokenHash.Md5_60]] it is `md5_60(i + ":" + token)` and `seed` is
  * ignored: DuckDB re-derives every value (the `minhash_neardup`
  * entry). Duplicate tokens collapse for free (same hash → same mins),
  * so the signature is a pure set sketch: P[sig_a(i) == sig_b(i)] ≈
  * Jaccard(A, B). Null tokens are skipped; an array with no non-null
  * token signs as k × `Long.MaxValue`.
  *
  * An Expression rather than explode+groupBy because the relational
  * form shuffles every (doc, token) pair to compute k `min` aggregates
  * — a full-corpus token shuffle. This form is a single projection
  * inside whole-stage codegen: at 100 TB the signature costs one scan,
  * and only the k-long signatures (not the tokens) ever reach an
  * exchange. No CountVectorizer→MinHashLSH fit: MLlib's `fit`
  * materializes the corpus vocabulary on the driver — a scale-killer
  * the sketch never needed.
  *
  * North-star extension (dedup family) — reference has zero custom
  * functions (reference: src/feature_engineering.py:7).
  */
case class MinHashSig(child: Expression, k: Int, seed: Long,
    hash: TokenHash = TokenHash.Murmur) extends UnaryExpression {

  require(k > 0 && k <= MinHashSig.MaxK,
    s"minhash_sig: k must be in 1..${MinHashSig.MaxK}, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<string>, got ${other.simpleString(10)}")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.eval(v.asInstanceOf[ArrayData], k, seed, hash)

  // companion referenced as MinHashSig$.MODULE$ — see SimHash64's note:
  // the bare class reference fails janino and silently degrades to
  // interpreted per-row eval
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSig$$.MODULE$$" +
        s".eval($c, $k, ${seed}L, ${hash.ref});")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  /** The largest signature length `minhash_sig` accepts. */
  val MaxK = 1024

  /** The Murmur kernel (the SQL `minhash_sig`). */
  def eval(arr: ArrayData, k: Int, seed: Long): GenericArrayData =
    eval(arr, k, seed, TokenHash.Murmur)

  /** Shared by interpreted eval and generated code. */
  def eval(arr: ArrayData, k: Int, seed: Long,
      hash: TokenHash): GenericArrayData = {
    val cs = new Array[Long](k)
    var i = 0
    while (i < k) { cs(i) = TokenHash.mix64(seed + i); i += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val vals = new Array[Long](k)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        hash.family(arr.getUTF8String(t), cs, vals)
        i = 0
        while (i < k) {
          if (vals(i) < mins(i)) mins(i) = vals(i)
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(mins)
  }

  /** SQL-route constructor: validates `k` / `seed` are foldable
    * integral literals (the signature layout is plan-time fixed).
    */
  def fromExprs(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : MinHashSig = {
    require(exprs.length == 3,
      s"minhash_sig expects 3 arguments (tokens, k, seed), got ${exprs.length}")
    def lit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Long = {
      require(e.foldable, s"minhash_sig: $what must be a literal")
      e.eval(null) match {
        case i: Int => i.toLong
        case l: Long => l
        case other => throw new IllegalArgumentException(
          s"minhash_sig: $what must be integral, got $other")
      }
    }
    MinHashSig(exprs.head, lit(exprs(1), "k").toInt, lit(exprs(2), "seed"))
  }

  /** Column-API entry point. */
  def minhashSig(tokens: Column, k: Int, seed: Long = 42L,
      hash: TokenHash = TokenHash.Murmur): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      MinHashSig(ColumnBridge.expression(tokens), k, seed, hash))
  }
}

package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BottomK, DotF32, MinHashSig, MmrSelect, SimHash64, TopKPairs}

/** SparkSessionExtensions entry point — the production route to the
  * library's custom Catalyst functions. Users add
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`) and `simhash64`,
  * `dot_f32`, `minhash_sig`, `bottom_k`, `top_k_pairs` and `mmr_select`
  * are available in SQL and via `call_function` on every session of
  * that context. [[GraftExtensions.register]] installs the same table
  * on an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Builder = exprs => {
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
    build(exprs)
  }

  private def fn(name: String, cls: Class[_], build: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The one (name, info, builder) table of the SQL functions. Arity
    * and literal-argument checks run in the builder, so both routes
    * raise the same `IllegalArgumentException` on a bad call. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("simhash64", classOf[SimHash64],
      arity("simhash64", 1)(e => SimHash64(e.head))),
    fn("dot_f32", classOf[DotF32],
      arity("dot_f32", 2)(e => DotF32(e.head, e(1)))),
    // arity + foldable-literal validation lives in each fromExprs
    fn("minhash_sig", classOf[MinHashSig], MinHashSig.fromExprs),
    fn("bottom_k", classOf[BottomK], BottomK.fromExprs),
    fn("top_k_pairs", classOf[TopKPairs], TopKPairs.fromExprs),
    fn("mmr_select", classOf[MmrSelect], MmrSelect.fromExprs))

  /** Register every function on an existing session (an ad-hoc session
    * built without the extension). Idempotent. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}

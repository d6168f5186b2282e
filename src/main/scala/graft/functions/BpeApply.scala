package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared greedy BPE merge machinery (opt r19, guide §4 — the
  * SimHash64 precedent): the `aggregate(syms, empty, fold)` HOF form
  * Extensions.bpeApplyRule builds is interpreted per ELEMENT and pays
  * two immutable array copies per appended symbol — O(len²) per word
  * per rule, outside whole-stage codegen. These expressions run the
  * identical greedy left-to-right pass as one primitive in-place loop
  * per rule — O(len) — inside codegen.
  *
  * Exact-equality contract with the HOF fold (pinned in
  * ExtensionsSpec): per rule (a, b), scan left to right keeping a
  * write cursor; when the last written symbol equals `a` and the
  * incoming symbol equals `b`, replace the last written symbol with
  * `a + b`, else append. A fused symbol never re-matches as `a` within
  * the same pass (a+b ≠ a since b is non-empty), exactly like the fold
  * whose accumulator's tail it checks. A null element never matches
  * either side and is appended unchanged (the fold's null-condition
  * `otherwise` branch).
  */
private[graft] object BpeMachinery {
  /** (a, b, fused) triples in rank order. */
  def compile(rules: Seq[(String, String)])
      : Array[(UTF8String, UTF8String, UTF8String)] =
    rules.map { case (a, b) =>
      (UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b))
    }.toArray

  /** One in-place greedy pass per rule over `buf[0..len)`; returns the
    * new length. `buf` must be privately owned by the caller. */
  def applyRules(buf: Array[UTF8String], len0: Int,
      rules: Array[(UTF8String, UTF8String, UTF8String)]): Int = {
    var len = len0
    var ri = 0
    while (ri < rules.length) {
      val (a, b, ab) = rules(ri)
      var w = 0
      var r = 0
      while (r < len) {
        val x = buf(r)
        if (w > 0 && x != null && buf(w - 1) != null &&
            buf(w - 1).equals(a) && x.equals(b))
          buf(w - 1) = ab
        else { buf(w) = x; w += 1 }
        r += 1
      }
      len = w
      ri += 1
    }
    len
  }
}

/** Apply a BPE merge-rule table to an already-split symbol array:
  * array<string> → array<string>. Drop-in codegen'd replacement for
  * the foldLeft-of-`aggregate` chain (bit-identical output; see
  * [[BpeMachinery]]). */
case class BpeApply(child: Expression, rules: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = child.dataType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_apply requires array<string>, got ${other.simpleString(10)}")
    }

  @transient private lazy val compiled = BpeMachinery.compile(rules)

  def applyArr(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val buf = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      buf(i) = if (v.isNullAt(i)) null else v.getUTF8String(i)
      i += 1
    }
    val len = BpeMachinery.applyRules(buf, n, compiled)
    // UTF8String[] reads fine as Object[] (JVM array covariance);
    // GenericArrayData never stores into it
    new GenericArrayData(
      (if (len == n) buf else java.util.Arrays.copyOf(buf, len))
        .asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(v: Any): Any =
    applyArr(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApply", this,
      classOf[BpeApply].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.applyArr($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeApply = copy(child = newChild)
}

object BpeApply {
  def bpeApply(syms: Column, rules: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(BpeApply(ColumnBridge.expression(syms), rules))
  }
}

/** Full-document BPE encode: array<string> WORDS → the flattened token
  * stream — per word, code-point split then [[BpeMachinery.applyRules]],
  * concatenated in word order. Replaces
  * `flatten(transform(words, w => bpeEncodeWord(w, rules)))`, whose
  * per-word lambda was interpreted and whose per-rule folds were
  * O(len²) (see [[BpeMachinery]]).
  *
  * Split parity: the HOF form splits with `filter(split(w, ''), len>0)`
  * — Java-regex code-point boundaries with empties dropped — which is
  * exactly a code-point iteration. Null-element parity: the HOF chain
  * maps a null word to a null element and `flatten` then returns NULL
  * for the whole document; this expression does the same (null words
  * cannot occur behind the callers' token filters, but the twins must
  * not diverge even off-domain).
  */
case class BpeEncodeWords(child: Expression, rules: Seq[(String, String)])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType,
    containsNull = false)

  // nullable even over a non-null child: a null WORD ELEMENT nulls the
  // whole result (flatten parity) — and this guarantees nullSafeCodeGen
  // declares ev.isNull as an assignable variable
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_encode_words requires array<string>, got ${other.simpleString(10)}")
    }

  @transient private lazy val compiled = BpeMachinery.compile(rules)

  def applyArr(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null // flatten-of-null-element parity
      val w = v.getUTF8String(i).toString
      // code-point split (split("", -1) semantics minus the filtered
      // empties — regex boundaries never fall inside a surrogate pair)
      var cp = 0
      var len = 0
      val buf = new Array[UTF8String](w.codePointCount(0, w.length))
      while (cp < w.length) {
        val c = w.codePointAt(cp)
        val step = Character.charCount(c)
        buf(len) = UTF8String.fromString(w.substring(cp, cp + step))
        len += 1
        cp += step
      }
      val m = BpeMachinery.applyRules(buf, len, compiled)
      var j = 0
      while (j < m) { out += buf(j); j += 1 }
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(v: Any): Any =
    applyArr(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncodeWords", this,
      classOf[BpeEncodeWords].getName)
    // applyArr may return null (null word element): route through the
    // nullSafeCodeGen value with an explicit isNull update
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $ref.applyArr($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeWords = copy(child = newChild)
}

object BpeEncodeWords {
  def bpeEncodeWords(words: Column,
      rules: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      BpeEncodeWords(ColumnBridge.expression(words), rules))
  }
}

package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Test support for the sketch kernels: one token array evaluated
  * through a kernel's interpreted `eval` and through its generated code,
  * plus the Murmur SimHash / MinHash loops exactly as they stood before
  * the token hash became a kernel argument — the references the kernels
  * must reproduce bit for bit.
  */
object SketchRefs {

  /** The kernel's input slot: column 0, `array<string>`. */
  val tokensRef: Expression =
    BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)

  def arrayData(toks: Seq[String]): ArrayData =
    new GenericArrayData(toks.map(t =>
      if (t == null) null else UTF8String.fromString(t)).toArray[Any])

  /** (interpreted, generated) results of `e` on one token array. */
  def bothRoutes(e: Expression, toks: Seq[String]): (Any, Any) = {
    val row = InternalRow(arrayData(toks))
    val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
    (e.eval(row), gen.get(0, e.dataType))
  }

  private def murmur(s: UTF8String, seed: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes(), seed)

  /** The two-seed Murmur SimHash vote loop. */
  def simhashMurmur(toks: Seq[String]): Long = {
    val arr = arrayData(toks)
    val counts = new Array[Int](64)
    for (i <- 0 until arr.numElements() if !arr.isNullAt(i)) {
      val s = arr.getUTF8String(i)
      val h1 = murmur(s, 0x9747b28c)
      val h2 = murmur(s, 0x5bd1e995)
      for (b <- 0 until 32) {
        if (((h1 >>> b) & 1) == 1) counts(b) += 1 else counts(b) -= 1
        if (((h2 >>> b) & 1) == 1) counts(b + 32) += 1 else counts(b + 32) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((out, b) =>
      if (counts(b) > 0) out | (1L << b) else out)
  }

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The seeded Murmur MinHash min loop: `min mix64(base ^ c_i)`. */
  def minhashMurmur(toks: Seq[String], k: Int, seed: Long): Seq[Long] = {
    val arr = arrayData(toks)
    val cs = Array.tabulate(k)(i => mix64(seed + i))
    val mins = Array.fill(k)(Long.MaxValue)
    for (t <- 0 until arr.numElements() if !arr.isNullAt(t)) {
      val s = arr.getUTF8String(t)
      val base = (murmur(s, 0x9747b28c).toLong << 32) |
        (murmur(s, 0x5bd1e995).toLong & 0xffffffffL)
      for (i <- 0 until k) {
        val v = mix64(base ^ cs(i))
        if (v < mins(i)) mins(i) = v
      }
    }
    mins.toSeq
  }

  /** Edge rows every kernel test covers. */
  val edgeRows: Seq[Seq[String]] = Seq(
    Seq.empty, Seq("a"), Seq("a", "a", "b"), Seq("a", null, "b"),
    Seq(null, null))
}

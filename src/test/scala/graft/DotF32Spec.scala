package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DotF32

/** DotF32 must be a bit-identical, faster stand-in for the
  * aggregate(zip_with(...)) HOF dot product it replaced.
  */
class DotF32Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** The original HOF form (kept here as the reference semantics). */
  private def hofDot(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("matches the HOF fold bit-for-bit on real embeddings") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("q"))
    val both = emb.crossJoin(broadcast(q))
      .select(DotF32.dotF32(col("embedding"), col("q")).as("native"),
        hofDot(col("embedding"), col("q")).as("hof"))
    // bit-identical: same products, same fold order, same doubles
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("null on length mismatch and on null elements (zip_with parity)") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),
      (2L, Array(1.0f), Array(3.0f, 4.0f)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), DotF32.dotF32(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(11.0))
    assert(out(2L).isEmpty) // length mismatch → null, like zip_with padding
    GraftExtensions.register(spark) // the Column API never registers
    val withNullElem = spark.sql(
      "SELECT dot_f32(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(1.0 as float), cast(1.0 as float))) AS d")
    assert(withNullElem.head().isNullAt(0))
  }

  test("accepts array<double> on either side (HOF parity preserved)") {
    val df = Seq((Array(1.5, 2.0), Array(2.0f, 3.0f))).toDF("d", "f")
    val out = df.select(
      DotF32.dotF32(col("d"), col("f")).as("df"),
      DotF32.dotF32(col("d"), col("d")).as("dd"),
      hofDot(col("d"), col("f")).as("hof")).head()
    assert(out.getDouble(0) == 9.0)
    assert(out.getDouble(1) == 1.5 * 1.5 + 4.0)
    assert(out.getDouble(0) == out.getDouble(2))
  }

  test("usable from SQL and stays inside whole-stage codegen") {
    GraftExtensions.register(spark)
    val df = spark.sql(
      "SELECT dot_f32(array(cast(2.0 as float)), array(cast(3.0 as float))) AS d")
    assert(df.head().getDouble(0) == 6.0)
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val proj = emb.select(
      DotF32.dotF32(col("embedding"), col("embedding")).as("n2"))
    proj.collect()
    // the expression pretty-prints as "dotf32" in plans
    val plan = proj.queryExecution.executedPlan.toString
    val projLine = plan.linesIterator.find(_.toLowerCase.contains("dotf32"))
    assert(projLine.exists(_.contains("*(")),
      s"dot_f32 projection not codegen'd:\n$plan")
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions wiring must make simhash64 / dot_f32 /
  * minhash_sig / bottom_k / top_k_pairs / mmr_select available in SQL on
  * a session built with the extension, and `GraftExtensions.register`
  * must install the same table (same checks) on an existing session.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects the six custom functions") {
    val base = TestSpark.spark
    // expected simhash from the ad-hoc registration route
    GraftExtensions.register(base)
    val expectedSim = base.sql("SELECT simhash64(array('a', 'b'))")
      .head().getLong(0)

    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // no active/default session → getOrCreate builds a NEW SparkSession
      // over the existing context and applies the extensions
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base)
      val r = s2.sql(
        """SELECT simhash64(array('a', 'b')) AS h,
          |       dot_f32(array(cast(1.5 as float), cast(2.0 as float)),
          |               array(cast(2.0 as float), cast(3.0 as float))) AS d
          |""".stripMargin).head()
      assert(r.getLong(0) == expectedSim)
      assert(r.getDouble(1) == 9.0)
      val bk = s2.sql(
        "SELECT bottom_k(x, 2) FROM VALUES (3L), (1L), (2L) t(x)")
        .head().getSeq[Long](0)
      assert(bk == Seq(1L, 2L))
      val mh = s2.sql("SELECT minhash_sig(array('a', 'b'), 4, 42) AS s")
        .head().getSeq[Long](0)
      assert(mh.length == 4)
      // top_k_pairs: int ord/id coerce via ImplicitCastInputTypes;
      // ties (9) break toward the smaller id
      val tk = s2.sql(
        """SELECT top_k_pairs(v, id, 2) FROM
          |VALUES (9, 1), (9, 2), (5, 3) t(v, id)""".stripMargin)
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(tk.map(r => (r.getDouble(0), r.getLong(1)))
        == Seq((9.0, 1L), (9.0, 2L)))
      // mmr_select: two candidates, no pair needed for k=1 — the
      // relevance argmax wins; struct carries the integer score law
      val mmr = s2.sql(
        """SELECT mmr_select(nid, rel, cb, sim, 1) FROM VALUES
          |(1L, 10L, 2L, 5L), (2L, 20L, 1L, 5L) t(nid, rel, cb, sim)
          |""".stripMargin)
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(mmr.map(r => (r.getLong(0), r.getLong(3), r.getInt(4)))
        == Seq((2L, 140L, 1)))
      // k = 3: the third pick has a negative similarity to the first
      // and NO pair with the second — the absent pair is skipped, so
      // its max similarity is the negative one, not a clamped 0
      val mmr3 = s2.sql(
        """SELECT mmr_select(nid, rel, cb, sim, 3) FROM VALUES
          |(1L, 30L, 2L, 5L), (2L, 20L, 1L, 5L), (3L, 10L, 1L, -4L)
          |t(nid, rel, cb, sim)""".stripMargin)
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(mmr3.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))) == Seq((1L, 30L, 0L, 210L, 1),
        (2L, 20L, 5L, 125L, 2), (3L, 10L, -4L, 82L, 3)))
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("the ad-hoc route checks arity like the extension route") {
    val spark = TestSpark.spark
    GraftExtensions.register(spark)
    for ((call, msg) <- Seq(
        "simhash64()" -> "simhash64 expects 1 argument(s), got 0",
        "dot_f32(array(cast(1.0 as float)))" ->
          "dot_f32 expects 2 argument(s), got 1",
        "minhash_sig(array('a'))" -> "minhash_sig expects 3 arguments",
        "bottom_k(1)" -> "bottom_k expects 2 arguments, got 1")) {
      val e = intercept[IllegalArgumentException](
        spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(msg), s"$call: ${e.getMessage}")
    }
  }
}

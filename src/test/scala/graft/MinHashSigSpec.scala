package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Extensions
import graft.functions.{MinHashSig, TokenHash}

/** MinHashSig: signature laws (set semantics, determinism, the
  * match-fraction ≈ Jaccard estimator) and the native near-dup
  * operator built on it (exact rescore vs a naive Jaccard reference).
  */
class MinHashSigSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private def sig(text: String, k: Int, seed: Long = 42L): Seq[Long] = {
    val df = Seq(Tuple1(text)).toDF("text")
    df.select(MinHashSig.minhashSig(split(lower(col("text")), " "), k, seed)
        .as("s"))
      .head().getSeq[Long](0)
  }

  test("signature has length k and is deterministic") {
    val a = sig("the quick brown fox", 16)
    val b = sig("the quick brown fox", 16)
    assert(a.length == 16)
    assert(a == b)
    // different seed → different signature
    assert(sig("the quick brown fox", 16, seed = 7L) != a)
  }

  test("signature is a set sketch: token order and duplicates are ignored") {
    assert(sig("a b c d", 32) == sig("d c b a", 32))
    assert(sig("a b c d", 32) == sig("a a b b c c d d", 32))
  }

  test("match fraction estimates Jaccard within statistical tolerance") {
    // |A∩B| = 6, |A∪B| = 10 → J = 0.6; k = 512 → σ ≈ 0.022
    val a = sig("t1 t2 t3 t4 t5 t6 t7 t8", 512)
    val b = sig("t1 t2 t3 t4 t5 t6 x1 x2", 512)
    val match_ = a.zip(b).count { case (x, y) => x == y }.toDouble / 512
    assert(math.abs(match_ - 0.6) < 0.1, s"estimator off: $match_ vs 0.6")
  }

  test("usable from SQL and stays inside whole-stage codegen") {
    GraftExtensions.register(spark)
    val df = spark.sql(
      "SELECT minhash_sig(array('a','b'), 4, 42) AS s")
    assert(df.head().getSeq[Long](0).length == 4)
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val proj = docs.select(
      MinHashSig.minhashSig(split(lower(col("text")), " "), 8).as("s"))
    proj.collect()
    val plan = proj.queryExecution.executedPlan.toString
    val projLine = plan.linesIterator.find(_.toLowerCase.contains("minhashsig"))
    assert(projLine.exists(_.contains("*(")),
      s"minhash_sig projection not codegen'd:\n$plan")
  }

  test("native near-dups: jaccard_dist is exact vs a naive reference") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // J(1,2) = 4/6
      (3L, "one two three four five"),
      (4L, "alpha beta gamma delta epsilon") // J(1,4) = 1
    ).toDF("doc_id", "text")
    val pairs = Extensions.minhashNearDups(docs, "text", "doc_id",
        maxJaccardDist = 1.0, numHashTables = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 0.0)
    assert(math.abs(pairs((1L, 2L)) - (1.0 - 4.0 / 6.0)) < 1e-12)
    // doc 3 shares no token with anyone: its minhash values collide with
    // others only by chance (~2^-64) — no pair emitted
    assert(!pairs.keys.exists { case (x, y) => x == 3L || y == 3L })
  }

  test("native near-dups: empty docs never pair (no all-sentinel band " +
      "collisions)") {
    // m empty docs share the identical all-sentinel signature — without
    // the pre-signature filter they form O(m²) candidate pairs
    val docs = ((1L to 20L).map(i => (i, "")) :+ (21L, "alpha beta") :+
      (22L, "alpha beta")).toDF("doc_id", "text")
    val pairs = Extensions.minhashNearDups(docs, "text", "doc_id",
        maxJaccardDist = 1.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((21L, 22L)))
  }

  test("native near-dups pair the identical docs and nothing else") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five")
    ).toDF("doc_id", "text")
    for (hash <- Seq(TokenHash.Murmur, TokenHash.Md5_60)) {
      val pairs = Extensions.minhashNearDups(docs, "text", "doc_id", 0.1,
          hash = hash)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)), s"$hash")
    }
  }

  private def sf0001Tokens: Array[Seq[String]] =
    graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split(lower(col("text")), " ")).collect().map(_.getSeq[String](0))

  test("MinHashSig over Md5_60 equals the md5MinhashSig HOF bit for bit " +
      "(k = 3, 64), interpreted and generated") {
    // the interpreted form the kernel replaced, verbatim: band j =
    // min over tokens of md5Hash60(j + ":" + token)
    def hof(k: Int)(toks: Column): Column =
      transform(sequence(lit(0), lit(k - 1)), j =>
        array_min(transform(toks, t =>
          Extensions.md5Hash60(concat(j.cast("string"), lit(":"), t)))))
    val corpus = sf0001Tokens.toSeq
    assert(corpus.nonEmpty)
    for (k <- Seq(3, 64)) {
      val rows = (corpus ++ SketchRefs.edgeRows).zipWithIndex.map(_.swap)
        .toDF("id", "toks")
        .select(col("toks"), hof(k)(col("toks")).as("hof"),
          MinHashSig.minhashSig(col("toks"), k, hash = TokenHash.Md5_60)
            .as("kernel"))
        .collect()
      val expr = MinHashSig(SketchRefs.tokensRef, k, 42L, TokenHash.Md5_60)
      for (r <- rows) {
        val toks = r.getSeq[String](0)
        val kernel = r.getSeq[Long](2)
        val (interp, gen) = SketchRefs.bothRoutes(expr, toks)
        assert(interp.asInstanceOf[ArrayData].toLongArray().toSeq == kernel)
        assert(gen.asInstanceOf[ArrayData].toLongArray().toSeq == kernel)
        if (toks.exists(_ != null))
          assert(kernel == r.getSeq[Long](1), s"k=$k $toks")
        else {
          // the one declared edge: with no non-null token array_min
          // yields null, the kernel its identity Long.MaxValue.
          // minhashNearDups drops such rows before signing, so no
          // catalog result can differ.
          assert(r.getSeq[Any](1) == Seq.fill(k)(null), s"k=$k $toks")
          assert(kernel == Seq.fill(k)(Long.MaxValue), s"k=$k $toks")
        }
      }
    }
  }

  test("MinHashSig over Murmur equals the seeded reference loop on " +
      "sf0.001 and edge rows (k = 3, 64), via SQL, interpreted and " +
      "generated") {
    GraftExtensions.register(spark)
    val corpus = sf0001Tokens.toSeq
    for (k <- Seq(3, 64)) {
      val expr = MinHashSig(SketchRefs.tokensRef, k, 42L)
      val viaSql = corpus.zipWithIndex.map(_.swap).toDF("id", "toks")
        .selectExpr("id", s"minhash_sig(toks, $k, 42) AS s").collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      for ((toks, i) <- (corpus ++ SketchRefs.edgeRows).zipWithIndex) {
        val want = SketchRefs.minhashMurmur(toks, k, 42L)
        val (interp, gen) = SketchRefs.bothRoutes(expr, toks)
        assert(interp.asInstanceOf[ArrayData].toLongArray().toSeq == want)
        assert(gen.asInstanceOf[ArrayData].toLongArray().toSeq == want)
        assert(MinHashSig.eval(SketchRefs.arrayData(toks), k, 42L)
          .toLongArray().toSeq == want)
        viaSql.get(i).foreach(sql => assert(sql == want, s"k=$k $toks"))
      }
    }
  }
}

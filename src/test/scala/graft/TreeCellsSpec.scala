package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TreeCells

/** Kernel laws for the two-level coarse quantizer
  * ([[graft.functions.TreeCells]], VERDICT r14 #4): the codegen'd
  * assignment/probe expressions must equal a straightforward Scala
  * reference of the two-level rule, and the knnJoin tree path must
  * keep the flat path's exactness (exhaustive probes) and recall
  * (pruned probes) contracts.
  */
class TreeCellsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  // a small deterministic layout: 3 groups × {2, 1, 3} leaves, dim 4
  private val dim = 4
  private val sup = Array[Float](
    0, 0, 0, 0,
    10, 0, 0, 0,
    0, 10, 0, 0)
  private val leaves = Array[Float](
    // group 0: leaves 0, 1
    0, 0, 0, 0,
    1, 1, 0, 0,
    // group 1: leaf 2
    10, 0, 0, 0,
    // group 2: leaves 3, 4, 5
    0, 10, 0, 0,
    0, 11, 0, 0,
    1, 10, 0, 0)
  private val gs = Array(0, 2, 3, 6)

  private def refAssign(v: Array[Float]): Int = {
    def d2(off: Int, cents: Array[Float]): Double = {
      var s = 0.0
      for (i <- 0 until dim) {
        val t = v(i).toDouble - cents(off + i); s += t * t }
      s
    }
    val g = (0 until gs.length - 1)
      .minBy(i => (d2(i * dim, sup), i))
    (gs(g) until gs(g + 1)).minBy(l => (d2(l * dim, leaves), l))
  }

  test("tree assignment equals the two-level reference rule on random " +
      "vectors, interpreted and codegen'd") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 12 - 1)))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
        TreeCells.nearestLeaf(col("v"), sup, leaves, gs, dim).as("c"))
      .as[(Long, Int)].collect().toMap
    rows.foreach { case (i, v) =>
      assert(got(i) == refAssign(v), s"row $i: ${v.mkString(",")}")
    }
  }

  test("tree assignment ties break to the lower leaf id and the lower " +
      "group id") {
    // equidistant between leaves 3 and 4 (both in group 2): lower id
    val v1 = Array[Float](0f, 10.5f, 0f, 0f)
    // exactly on the super midline between groups 0 and 1: the lower
    // GROUP wins, then its nearest leaf (leaf 1, d²=17 < leaf 0's 25)
    val v2 = Array[Float](5f, 0f, 0f, 0f)
    val got = Seq((1L, v1), (2L, v2)).toDF("id", "v")
      .select(col("id"),
        TreeCells.nearestLeaf(col("v"), sup, leaves, gs, dim).as("c"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 3)
    assert(got(2L) == 1)
  }

  test("tree assignment is null on length mismatch and null elements") {
    val df = Seq(
      (1L, Some(Array(1f, 2f, 3f))),          // wrong length
      (2L, None: Option[Array[Float]])          // null vector
    ).toDF("id", "v")
    val got = df.select(col("id"),
        TreeCells.nearestLeaf(col("v"), sup, leaves, gs, dim).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(got(1L) && got(2L))
  }

  test("tree probes return the nprobe best leaves within the " +
      "superProbe best groups, ascending (distance, id)") {
    def refProbes(v: Array[Float], nprobe: Int, sp: Int): Seq[Int] = {
      def d2(off: Int, cents: Array[Float]): Double = {
        var s = 0.0
        for (i <- 0 until dim) {
          val t = v(i).toDouble - cents(off + i); s += t * t }
        s
      }
      val topG = (0 until gs.length - 1)
        .sortBy(i => (d2(i * dim, sup), i)).take(sp)
      topG.flatMap(g => gs(g) until gs(g + 1))
        .sortBy(l => (d2(l * dim, leaves), l)).take(nprobe)
    }
    val rnd = new scala.util.Random(11)
    val rows = (0L until 200L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 12 - 1)))
    for (nprobe <- Seq(1, 2, 4); sp <- Seq(1, 2, 3)) {
      val got = rows.toDF("id", "v")
        .select(col("id"), TreeCells.probes(col("v"), sup, leaves, gs,
          dim, nprobe, sp).as("p"))
        .as[(Long, Seq[Int])].collect().toMap
      rows.foreach { case (i, v) =>
        assert(got(i) == refProbes(v, nprobe, sp),
          s"row $i nprobe=$nprobe sp=$sp")
      }
    }
  }

  test("fitTreeQuantizer allocates every group at least one leaf and " +
      "exactly nCells leaves on a non-degenerate corpus") {
    val rnd = new scala.util.Random(3)
    val emb = (0L until 500L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val tq = graft.engine.Extensions.fitTreeQuantizer(
      emb, "embedding", "vec_id", nCells = 81, seed = 42L)
    assert(tq.nGroups == 9) // ceil(sqrt(81))
    assert(tq.nLeaves == 81)
    assert(tq.groupStart.sliding(2).forall(w => w(1) > w(0)))
  }

  test("knnJoin tree path with exhaustive probes equals the brute-force " +
      "per-row top-k (the flat path's exactness law crosses the " +
      "threshold)") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 120L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat())))
    val emb = rows.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) { d += a(j).toDouble * b(j).toDouble }
      for (j <- a.indices) { na += a(j).toDouble * a(j).toDouble }
      for (j <- b.indices) { nb += b(j).toDouble * b(j).toDouble }
      if (na == 0 || nb == 0) 0.0
      else math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val exact = rows.map { case (q, qv) =>
      q -> rows.filter(_._1 != q)
        .map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    }.toMap
    // nCells=64 crosses treeCellThreshold; nprobe=64 ≥ any leaf
    // count the 120-row fit can produce ⇒ exhaustive ⇒ exact
    val got = graft.engine.Extensions.knnJoin(emb, "embedding",
        "vec_id", k = 3, nCells = 64, nprobe = 64)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
    assert(got == exact)
  }

  test("knnJoin tree path pruned probes keep recall above the pinned " +
      "floor vs exhaustive at sf0.01") {
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.01")
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = sets(graft.engine.Extensions.knnJoin(emb, "embedding",
      "vec_id", k = 5, nCells = 64, nprobe = 64))
    val pruned = sets(graft.engine.Extensions.knnJoin(emb, "embedding",
      "vec_id", k = 5, nCells = 64, nprobe = 16))
    val qids = exact.keys.toSeq
    val recall = qids.map(q => pruned.getOrElse(q, Set.empty[Long])
      .intersect(exact(q)).size / 5.0).sum / qids.size
    info(f"knnJoin tree-path mean recall@5 (nprobe 16/64) = $recall%.3f")
    assert(recall >= 0.50, f"tree-path recall regressed: $recall%.3f")
  }
}

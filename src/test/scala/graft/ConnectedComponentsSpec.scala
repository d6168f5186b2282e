package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConnectedComponents

/** Connected components: chains, isolated nodes, determinism. */
class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("chains collapse to one component; isolated nodes keep their own") {
    val nodes = (1L to 7L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val comps = ConnectedComponents.components(nodes, edges, "id", "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(4L) == 4L) // isolated
    assert(comps(5L) == 5L && comps(6L) == 5L)
    assert(comps(7L) == 7L)
  }

  test("long path converges within iteration budget") {
    val n = 30L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val comps = ConnectedComponents.components(nodes, edges, "id", "a", "b",
      maxIter = 40).as[(Long, Long)].collect().toMap
    assert(comps.values.toSet == Set(1L))
  }

  test("reliable-checkpoint knob: results bit-identical to the " +
      "localCheckpoint default, and the dir actually receives " +
      "checkpoint data (cluster fault-tolerance posture)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toFile
    try {
      val nodes = (1L to 12L).toDF("id")
      val edges = ((1L until 8L).map(i => (i, i + 1)) ++ Seq((10L, 11L)))
        .toDF("a", "b")
      val local = ConnectedComponents
        .components(nodes, edges, "id", "a", "b")
        .as[(Long, Long)].collect().sorted.toSeq
      // force the DISTRIBUTED loop (threshold 0): the r19 local
      // union-find path never checkpoints, and this test is about the
      // loop's reliable-checkpoint plumbing
      spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
      val reliable =
        try ConnectedComponents
          .components(nodes, edges, "id", "a", "b",
            checkpointDir = Some(dir.toString))
          .as[(Long, Long)].collect().sorted.toSeq
        finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
      assert(reliable == local)
      // the reliable path must really have checkpointed into the dir
      // (files persist until the caller cleans the directory — Spark
      // does not self-delete reliable checkpoints)
      def walk(f: java.io.File): Seq[java.io.File] =
        Seq(f) ++ Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      assert(walk(dir).exists(f => f.isFile && f.getName.startsWith("part-")),
        s"no checkpoint part files under $dir")
      // bfs + kCore ride the same knob: equality spot-check
      val bfsL = graft.engine.Analytics.bfsDistances(edges.toDF("a", "b"),
        "a", "b", Seq(1L).toDF("s"), "s", maxDepth = 3)
        .as[(Long, Int)].collect().sorted.toSeq
      val bfsR = graft.engine.Analytics.bfsDistances(edges.toDF("a", "b"),
        "a", "b", Seq(1L).toDF("s"), "s", maxDepth = 3,
        checkpointDir = Some(dir.toString))
        .as[(Long, Int)].collect().sorted.toSeq
      assert(bfsR == bfsL)
      val coreL = graft.engine.Analytics
        .kCore(edges.toDF("a", "b"), "a", "b", k = 2)
        .as[(Long, Long)].collect().sorted.toSeq
      val coreR = graft.engine.Analytics
        .kCore(edges.toDF("a", "b"), "a", "b", k = 2,
          checkpointDir = Some(dir.toString))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(coreR == coreL)
    } finally {
      // caller-owned lifecycle: sweep the checkpoint dir
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
      }
      rm(dir)
      assert(!dir.exists())
    }
  }

  test("bounded local union-find short-circuit equals the distributed " +
      "loop on random graphs (the opt-r19 law: component = min " +
      "reachable id on both paths, bit for bit)") {
    val rnd = new scala.util.Random(7L)
    (1 to 5).foreach { _ =>
      val n = 40 + rnd.nextInt(60)
      val m = 10 + rnd.nextInt(80)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("id")
      // default threshold ⇒ the local union-find path
      val local = ConnectedComponents
        .components(nodes, edges, "id", "a", "b")
        .as[(Long, Long)].collect().sorted.toSeq
      // threshold 0 disables the short-circuit ⇒ the distributed loop
      spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
      val dist =
        try ConnectedComponents.components(nodes, edges, "id", "a", "b")
          .as[(Long, Long)].collect().sorted.toSeq
        finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
      assert(local == dist)
    }
  }

  test("null edge endpoints name no node: the local union-find and the " +
      "distributed loop agree, and no component leaks into node 0") {
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(3L), None), (None, Some(4L)),
      (None, None), (Some(4L), Some(5L))).toDF("a", "b")
    val local = ConnectedComponents
      .components(nodes, edges, "id", "a", "b")
      .as[(Long, Long)].collect().sorted.toSeq
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    val dist =
      try ConnectedComponents.components(nodes, edges, "id", "a", "b")
        .as[(Long, Long)].collect().sorted.toSeq
      finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    assert(local == dist)
    assert(local == Seq((0L, 0L), (1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L),
      (5L, 4L)))
  }

  test("narrower integral ids (int) take the local path, components " +
      "keep the original column type") {
    val nodes = Seq(1, 2, 3, 4).toDF("id")
    val edges = Seq((2, 3), (3, 1)).toDF("s", "t")
    val out = ConnectedComponents.components(nodes, edges, "id", "s", "t")
    assert(out.schema("component").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val comps = out.as[(Int, Int)].collect().toMap
    assert(comps(1) == 1 && comps(2) == 1 && comps(3) == 1 && comps(4) == 4)
  }

  test("dedup clusters keep exactly one survivor per duplicate group") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about query engines at scale"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val out = graft.engine.Extensions.dedupClusters(docs, "text", "doc_id",
      maxHamming = 0)
    val kept = out.filter($"keep" === 1).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 and 4 fold into 1's cluster
  }
}

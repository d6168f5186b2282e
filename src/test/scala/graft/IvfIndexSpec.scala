package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Extensions, IvfIndex, Tables}

/** The build-once / query-many IVF index: result parity with the
  * ad-hoc annIvf operator, save/load round-trip, and the property the
  * whole design exists for — queries against the saved layout prune
  * the cell partitions at the file level.
  */
class IvfIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  val sf = "/root/testdata/sf0.001"
  val queryIds = Seq(0L, 1L, 2L)

  def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("built index answers exactly like the ad-hoc annIvf operator") {
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, "embedding", "vec_id", nCells = 8)
    val viaIndex = resultSet(idx.queryByIds(queryIds, k = 5, nprobe = 3))
    val adHoc = resultSet(Extensions.annIvf(emb, "embedding", "vec_id",
      queryIds, k = 5, nprobe = 3, nCells = 8))
    assert(viaIndex == adHoc)
    assert(viaIndex.nonEmpty)
  }

  test("save/load round-trips the index and its answers") {
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, "embedding", "vec_id", nCells = 8)
    val before = resultSet(idx.queryByIds(queryIds, k = 5, nprobe = 3))
    val dir = Files.createTempDirectory("graft-ivf").toString
    idx.save(dir)
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    assert(resultSet(loaded.queryByIds(queryIds, k = 5, nprobe = 3)) == before)
  }

  test("an empty _CURRENT pointer (a torn publish) fails load loudly " +
      "instead of resolving the index root") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-torn").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 4).save(dir)
    Files.write(new java.io.File(dir, "_CURRENT").toPath, Array.emptyByteArray)
    val e = intercept[IllegalStateException](
      IvfIndex.load(spark, dir, "vec_id", "embedding"))
    assert(e.getMessage.contains("empty _CURRENT pointer"))
  }

  test("queries on the saved layout prune cell partitions in the scan") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-prune").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 8).save(dir)
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    val out = loaded.queryByIds(queryIds, k = 5, nprobe = 3)
    out.collect()
    val plan = (out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    // the probed cell ids must surface as a partition filter on the
    // cells scan — file-level pruning, the point of the layout
    val cellScan = plan.linesIterator
      .find(l => l.contains("cells") && l.contains("PartitionFilters"))
    assert(cellScan.isDefined, s"no partition-filtered cells scan in:\n$plan")
    assert(cellScan.get.contains("__cell"), s"no __cell filter in:\n$plan")
    // and the filter is non-trivial: nprobe=3 of 8 cells, not all 8
    val pruned = spark.read.parquet(s"$dir/cells")
      .select("__cell").distinct().count()
    assert(pruned == 8L) // sanity: all 8 cells exist in the layout
  }

  test("appendToSaved grows the saved layout under the frozen " +
      "quantizer: appended vectors are queryable, counts add up, " +
      "pruning layout intact") {
    val emb = Tables.embeddings(spark, sf)
    val half1 = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") % 2 === 0)
    val half2 = emb.filter(org.apache.spark.sql.functions
      .col("vec_id") % 2 === 1)
    val dir = Files.createTempDirectory("graft-ivf-append").toString
    IvfIndex.build(half1, "embedding", "vec_id", nCells = 8).save(dir)
    IvfIndex.appendToSaved(spark, dir, half2, "embedding", "vec_id")
    val total = spark.read.parquet(s"$dir/cells").count()
    assert(total == emb.count())
    // appended rows live inside the same cell-partition layout
    val cells = spark.read.parquet(s"$dir/cells")
      .select("__cell").distinct().count()
    assert(cells <= 8)
    // a query from an APPENDED id finds neighbors across both halves
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    val odd = half2.select("vec_id").limit(1)
      .collect().head.getLong(0)
    val res = loaded.queryByIds(Seq(odd), k = 8, nprobe = 8)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(res.nonEmpty)
    assert(res.exists(_ % 2 == 0) || res.exists(_ % 2 == 1))
    assert(res.length == 8)
  }

  test("build rejects reserved internal column names") {
    val bad = Tables.embeddings(spark, sf).withColumn("__cell", lit(1))
    intercept[IllegalArgumentException] {
      IvfIndex.build(bad, "embedding", "vec_id")
    }
  }

  test("PQ sidecar: exhaustive-parameter queries on the persisted " +
      "IVF+PQ layout equal exact L2 top-k, and the codes scan is " +
      "file-pruned on probed cells") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivfpq").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 8).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    val idx = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    // exhaustive probes + corpus-covering shortlist: the PQ stage can
    // only reorder the shortlist, the exact re-rank restores true L2
    // top-k — independent of both KMeans fits
    val n = emb.count().toInt
    val out = idx.queryByIds(queryIds, k = 5, nprobe = 8,
      refineFactor = n)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0
      for (j <- a.indices) {
        val x = a(j).toDouble - b(j).toDouble; d += x * x
      }
      math.rint(d * 1e6) / 1e6
    }
    val exact = queryIds.map { q =>
      val qv = rows.find(_._1 == q).get._2
      q -> rows.filter(_._1 != q)
        .map { case (id, v) => (id, sq(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    }.toMap
    val got = out.orderBy("query_id", "rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .toSeq.groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
    assert(got == exact)
    // pruned probes: the codes scan must carry a partition filter
    val pruned = idx.queryByIds(queryIds, k = 5, nprobe = 3)
    pruned.collect()
    val plan = (pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    val codesScan = plan.linesIterator
      .find(l => l.contains("codes") && l.contains("PartitionFilters") &&
        l.contains("__cell"))
    assert(codesScan.isDefined, s"no partition-filtered codes scan in:\n$plan")
  }

  test("PQ sidecar growth: appended vectors join the layout under the " +
      "frozen quantizer+codebooks and exhaustive queries stay exact " +
      "over the grown corpus") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 80)
    val extra = emb.filter(col("vec_id") >= 80 && col("vec_id") < 100)
    val dir = Files.createTempDirectory("graft-ivfpq-grow").toString
    IvfIndex.build(base, "embedding", "vec_id", nCells = 8).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    IvfIndex.appendToSaved(spark, dir, extra, "embedding", "vec_id")
    IvfIndex.appendPqToSaved(spark, dir, extra, "embedding", "vec_id")
    val idx = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    val grown = emb.filter(col("vec_id") < 100)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0
      for (j <- a.indices) {
        val x = a(j).toDouble - b(j).toDouble; d += x * x
      }
      math.rint(d * 1e6) / 1e6
    }
    // query an APPENDED id: exhaustive probes + corpus-covering
    // shortlist make the answer the exact L2 top-k over the grown
    // corpus, independent of the frozen fits
    val exact = Seq(85L).map { q =>
      val qv = grown.find(_._1 == q).get._2
      q -> grown.filter(_._1 != q)
        .map { case (id, v) => (id, sq(v, qv)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSeq
    }.toMap
    val got = idx.queryByIds(Seq(85L), k = 5, nprobe = 8,
        refineFactor = grown.length)
      .orderBy("rank").select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
    assert(got == exact)
  }

  test("append lifecycle (VERDICT r10 #6): pruned-query recall holds a " +
      "floor after EVERY append wave under the frozen fits, and the " +
      "codes scan stays file-pruned over the grown layout") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-ivfpq-waves").toString
    // base corpus 200 rows; three 100-row waves appended through the
    // frozen coarse quantizer + PQ codebooks (the production grow
    // path: new data joins the layout with no refit, no rewrite of
    // existing cells)
    IvfIndex.build(emb.filter(col("vec_id") < 200), "embedding",
      "vec_id", nCells = 8).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 64)
    val all = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0
      for (j <- a.indices) {
        val x = a(j).toDouble - b(j).toDouble; d += x * x
      }
      d
    }
    val qids = (0L until 10L).toSeq
    def prunedRecall(corpusMax: Long): Double = {
      val corpus = all.filter(_._1 < corpusMax)
      val exact = qids.map { q =>
        val qv = corpus.find(_._1 == q).get._2
        q -> corpus.filter(_._1 != q)
          .map { case (id, v) => (id, sq(v, qv)) }
          .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
      }.toMap
      val got = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
        .queryByIds(qids, k = 5, nprobe = 4, refineFactor = 16)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      qids.map(q => got.getOrElse(q, Set.empty[Long])
        .intersect(exact(q)).size / 5.0).sum / qids.size
    }
    // recall is measured immediately after each wave, against the
    // exact scan over the corpus AS OF that wave
    val curve = scala.collection.mutable.ArrayBuffer(
      200L -> prunedRecall(200L))
    for (w <- 1 to 3) {
      val lo = 100L + w * 100L
      val wave = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 100L)
      IvfIndex.appendToSaved(spark, dir, wave, "embedding", "vec_id")
      IvfIndex.appendPqToSaved(spark, dir, wave, "embedding", "vec_id")
      curve += (lo + 100L) -> prunedRecall(lo + 100L)
    }
    info(curve.map { case (m, r) => f"n=$m r=$r%.2f" }.mkString(", "))
    // stability: the frozen-fit index must not decay as appended data
    // (same distribution) dilutes the trained cells — every wave holds
    // the same floor the base corpus does (measured 0.82 at base /
    // 0.76, 0.72, 0.72 after waves 1-3 at nprobe=4/kCode=64/refine=16;
    // the floor leaves regeneration slack under the flat tail)
    curve.foreach { case (m, r) =>
      assert(r >= 0.55, f"pruned recall@5 fell to $r%.2f at corpus $m")
    }
    // and the probed query over the grown layout still prunes code
    // partitions at the file level — appends must extend the
    // partitioned layout, never flatten it
    val pruned = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
      .queryByIds(qids, k = 5, nprobe = 3, refineFactor = 8)
    pruned.collect()
    val plan = (pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    val codesScan = plan.linesIterator
      .find(l => l.contains("codes") && l.contains("PartitionFilters") &&
        l.contains("__cell"))
    assert(codesScan.isDefined, s"no partition-filtered codes scan in:\n$plan")
  }

  test("epoch lifecycle: appendEpoch is exactly-once (claim replay " +
      "returns false), a crashed unclaimed dir is invisible and the " +
      "retry rewrites it, and the epoch-grown index answers exactly " +
      "like the in-place appendToSaved path") {
    val emb = Tables.embeddings(spark, sf)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val dirA = Files.createTempDirectory("graft-ivf-ep-a").toString
    val dirB = Files.createTempDirectory("graft-ivf-ep-b").toString
    IvfIndex.build(half1, "embedding", "vec_id", nCells = 8).save(dirA)
    IvfIndex.build(half1, "embedding", "vec_id", nCells = 8).save(dirB)
    // crash simulation: a half-written epoch exists but never claimed
    new java.io.File(s"$dirA/epochs/e1/cells").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirA/epochs/e1/cells/garbage.txt"), "x")
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dirA).count()
      == half1.count(), "unclaimed epoch must be invisible to loads")
    // the retry deletes the unclaimed dir and rewrites it
    assert(IvfIndex.appendEpoch(spark, dirA, half2, "embedding",
      "vec_id", "e1"))
    val cnt = graft.engine.IvfIndex.cellsWithEpochs(spark, dirA).count()
    assert(cnt == emb.count())
    // checkpoint replay after success: already claimed -> false, no-op
    assert(!IvfIndex.appendEpoch(spark, dirA, half2, "embedding",
      "vec_id", "e1"))
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dirA).count()
      == cnt)
    // parity law: the epoch-grown layout answers exactly like the
    // in-place append on an identically built (seeded) twin
    IvfIndex.appendToSaved(spark, dirB, half2, "embedding", "vec_id")
    val viaEpoch = resultSet(IvfIndex.load(spark, dirA, "vec_id",
      "embedding").queryByIds(queryIds, k = 8, nprobe = 8))
    val viaAppend = resultSet(IvfIndex.load(spark, dirB, "vec_id",
      "embedding").queryByIds(queryIds, k = 8, nprobe = 8))
    assert(viaEpoch == viaAppend && viaEpoch.nonEmpty)
  }

  test("PQ sidecar + epochs: addPqCodes encodes pre-sidecar epochs " +
      "(no recall hole), post-sidecar epoch codes carry the codebook " +
      "version, and a re-fit EXCLUDES stale epoch codes instead of " +
      "ADC-scoring them against the wrong codewords") {
    val emb = Tables.embeddings(spark, sf)
    val third1 = emb.filter(col("vec_id") % 3 === 0)
    val third2 = emb.filter(col("vec_id") % 3 === 1)
    val third3 = emb.filter(col("vec_id") % 3 === 2)
    val dir = Files.createTempDirectory("graft-ivfpq-ep").toString
    IvfIndex.build(third1, "embedding", "vec_id", nCells = 4).save(dir)
    // an epoch claimed BEFORE the sidecar exists carries no codes dir
    assert(IvfIndex.appendEpoch(spark, dir, third2, "embedding",
      "vec_id", "pre"))
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    // ...but its rows ARE encoded: addPqCodes reads cellsWithEpochs
    val codes1 = graft.engine.IvfIndex.codesWithEpochs(spark, dir)
    assert(codes1.count() == third1.count() + third2.count(),
      "pre-sidecar epoch rows must be present in the PQ scan")
    // an epoch claimed AFTER the sidecar writes version-stamped codes
    assert(IvfIndex.appendEpoch(spark, dir, third3, "embedding",
      "vec_id", "post"))
    val codes2 = graft.engine.IvfIndex.codesWithEpochs(spark, dir)
    assert(codes2.count() == emb.count())
    assert(codes2.select("vec_id").distinct().count() == emb.count(),
      "every id exactly once in the PQ scan")
    // exhaustive-parameter query sees neighbors from all three waves
    val idx = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    val n = emb.count().toInt
    val res = idx.queryByIds(Seq(0L), k = n - 1, nprobe = 4,
      refineFactor = n).select("neighbor_id").collect()
      .map(_.getLong(0)).toSet
    assert(res.exists(_ % 3 == 1) && res.exists(_ % 3 == 2),
      "epoch rows must be reachable through the PQ query path")
    // RE-FIT: the post epoch's codes are now superseded — the re-fit
    // re-encodes their rows into the base codes and SWEEPS the epoch
    // codes dir (left in place it would double-count whenever a
    // re-fit reproduces the identical codebook — a review finding):
    // still exactly one row per id
    val oldMarker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/epochs/post/codes/_pqv")), "UTF-8")
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 16)
    val codes3 = graft.engine.IvfIndex.codesWithEpochs(spark, dir)
    assert(codes3.count() == emb.count(),
      "stale epoch codes must not double-count after a re-fit")
    assert(codes3.select("vec_id").distinct().count() == emb.count())
    assert(!new java.io.File(s"$dir/epochs/post/codes").exists(),
      "the re-fit must sweep the folded epoch codes dir")
    // crash-window simulation: a stale codes dir that survived the
    // sweep (old version stamp) stays EXCLUDED by version skew — the
    // cells dir still exists, so only the marker + dir need restoring
    new java.io.File(s"$dir/epochs/post/codes").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/epochs/post/codes/_pqv"),
      oldMarker.getBytes("UTF-8"))
    val codes4 = graft.engine.IvfIndex.codesWithEpochs(spark, dir)
    assert(codes4.count() == emb.count(),
      "a resurrected stale codes dir must stay version-excluded")
  }

  test("pqVersionOf salts the codebook digest with the folded epoch " +
      "set: a re-fit that reproduces the identical codebook still " +
      "mints a new version once it folds any epoch") {
    val cb: Seq[Seq[Seq[Float]]] =
      Seq(Seq(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)))
    val v0 = graft.engine.IvfIndex.pqVersionOf(cb)
    assert(v0 == graft.engine.IvfIndex.pqVersionOf(cb),
      "same inputs, same version — re-runs stay idempotent")
    assert(v0 != graft.engine.IvfIndex.pqVersionOf(cb, Seq("e1")))
    assert(graft.engine.IvfIndex.pqVersionOf(cb, Seq("e1", "e2")) ==
      graft.engine.IvfIndex.pqVersionOf(cb, Seq("e2", "e1")),
      "the salt is order-free (a SET of names)")
  }

  test("compactEpochs folds claimed epochs into one published " +
      "generation: bit-identical answers, exact counts, folded epoch " +
      "names stay exactly-once after their dirs are swept, appends and " +
      "a second compaction keep working, file pruning intact") {
    val emb = Tables.embeddings(spark, sf)
    val third1 = emb.filter(col("vec_id") % 3 === 0)
    val third2 = emb.filter(col("vec_id") % 3 === 1)
    val third3 = emb.filter(col("vec_id") % 3 === 2)
    val dir = Files.createTempDirectory("graft-ivf-compact").toString
    IvfIndex.build(third1, "embedding", "vec_id", nCells = 4).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir, third2, "embedding",
      "vec_id", "e1"))
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    assert(IvfIndex.appendEpoch(spark, dir, third3, "embedding",
      "vec_id", "e2"))
    val n = emb.count().toInt
    def answers(): (Set[(Long, Long, Int)], Set[(Long, Long, Int)]) = (
      resultSet(IvfIndex.load(spark, dir, "vec_id", "embedding")
        .queryByIds(queryIds, k = 8, nprobe = 4)),
      resultSet(IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
        .queryByIds(queryIds, k = 8, nprobe = 4, refineFactor = n)))
    val before = answers()
    assert(IvfIndex.compactEpochs(spark, dir))
    assert(graft.engine.Generations.currentName(dir).contains("gen-1"))
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count())
    assert(graft.engine.IvfIndex.codesWithEpochs(spark, dir).count()
      == emb.count())
    assert(answers() == before, "compaction must not change any answer")
    // the epoch dirs are swept; replaying a FOLDED epoch refuses even
    // though its dir is gone (its rows live in the base now)
    assert(!new java.io.File(s"$dir/epochs/e1").exists())
    assert(!IvfIndex.appendEpoch(spark, dir, third2, "embedding",
      "vec_id", "e1"))
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count())
    // crash-window simulation: a folded epoch dir resurrected with a
    // claim marker stays EXCLUDED (the _folded list, not luck)
    new java.io.File(s"$dir/epochs/e2/cells").mkdirs()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/epochs/e2/_claim"))
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count())
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/epochs/e2"))
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.delete(p); () })
    // growth continues on the compacted layout: a NEW epoch (disjoint
    // ids) is visible, and a second compaction folds it into gen-2
    val wave = third2.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"))
    assert(IvfIndex.appendEpoch(spark, dir, wave, "embedding",
      "vec_id", "e3"))
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count() + wave.count())
    // crash-after-publish simulation (review finding): orphans an
    // EARLIER run's sweep failed to remove — a folded-named epoch dir
    // and a superseded generation root — must be healed by the NEXT
    // compaction's manifest-driven sweep, not accumulate forever
    new java.io.File(s"$dir/epochs/e1/cells").mkdirs()
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/epochs/e1/_claim"))
    new java.io.File(s"$dir/gen-0/cells").mkdirs()
    assert(IvfIndex.compactEpochs(spark, dir))
    assert(graft.engine.Generations.currentName(dir).contains("gen-2"))
    assert(!new java.io.File(s"$dir/epochs/e1").exists(),
      "a crash-orphaned FOLDED epoch dir must be swept by the next run")
    assert(!new java.io.File(s"$dir/gen-0").exists(),
      "a crash-orphaned superseded generation root must be swept")
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count() + wave.count())
    assert(graft.engine.IvfIndex.codesWithEpochs(spark, dir).count()
      == emb.count() + wave.count())
    assert(!IvfIndex.compactEpochs(spark, dir), "nothing left to fold")
    // the compacted layout still file-prunes
    val q = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
      .queryByIds(queryIds, k = 5, nprobe = 2, refineFactor = 8)
    q.collect()
    val plan = (q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    assert(plan.linesIterator.exists(l => l.contains("codes") &&
      l.contains("PartitionFilters") && l.contains("__cell")),
      s"no partition-filtered codes scan in:\n$plan")
  }

  test("retainFolded bounds the _folded replay manifest (r18 review " +
      "finding F4): own fold names always survive, a beyond-horizon " +
      "name keeps its claim while its epoch dir still exists (the " +
      "crash-before-sweep resurrection guard), and retained names " +
      "still refuse replay") {
    val emb = Tables.embeddings(spark, sf)
    val p = (i: Int) => emb.filter(col("vec_id") % 5 === i)
    val dir = Files.createTempDirectory("graft-ivf-retain").toString
    def manifest(): Seq[String] = {
      val root = graft.engine.Generations.currentName(dir).get
      val f = java.nio.file.Paths.get(s"$dir/$root/_folded")
      if (!java.nio.file.Files.exists(f)) Seq.empty
      else new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
    }
    IvfIndex.build(p(0), "embedding", "vec_id", nCells = 4).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir, p(1), "embedding",
      "vec_id", "e1"))
    assert(IvfIndex.appendEpoch(spark, dir, p(2), "embedding",
      "vec_id", "e2"))
    assert(IvfIndex.compactEpochs(spark, dir, retainFolded = 2))
    assert(manifest() == Seq("e1", "e2"))
    // a retained folded name refuses replay (dir long swept)
    assert(!IvfIndex.appendEpoch(spark, dir, p(1), "embedding",
      "vec_id", "e1"))
    // crash-before-sweep shape: a folded epoch dir is still on disk
    // when the NEXT fold's manifest is written — dropping its name
    // would resurrect the dir as a live epoch (rows counted twice),
    // so the horizon must NOT drop it until the dir is gone
    new java.io.File(s"$dir/epochs/e1/cells").mkdirs()
    assert(IvfIndex.appendEpoch(spark, dir, p(3), "embedding",
      "vec_id", "e3"))
    assert(IvfIndex.compactEpochs(spark, dir, retainFolded = 1))
    assert(manifest() == Seq("e1", "e3"),
      "e1 (dir alive) must keep its claim; e2 (dir swept) drops")
    assert(!new java.io.File(s"$dir/epochs/e1").exists(),
      "this fold's own sweep reclaims the resurrected dir")
    // with the dir gone, the next fold finally drops e1 (and e3,
    // also beyond the 1-name horizon and swept)
    assert(IvfIndex.appendEpoch(spark, dir, p(4), "embedding",
      "vec_id", "e4"))
    assert(IvfIndex.compactEpochs(spark, dir, retainFolded = 1))
    assert(manifest() == Seq("e4"))
    // exactly-once throughout: every ingested id, once
    val cells = graft.engine.IvfIndex.cellsWithEpochs(spark, dir)
    assert(cells.count() == emb.count())
    assert(cells.select("vec_id").distinct().count() == emb.count())
  }

  test("lifecycle hardening (ADVICE r12): an epoch-less compactEpochs " +
      "heals sweep orphans, re-save over a compacted path resets the " +
      "generation/epoch state, and a torn addPqCodes fails loudly via " +
      "the base codes version stamp") {
    import java.io.File
    import java.nio.file.Paths
    val emb = Tables.embeddings(spark, sf)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val dir = Files.createTempDirectory("graft-ivf-lifecycle").toString
    IvfIndex.build(half1, "embedding", "vec_id", nCells = 4).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir, half2, "embedding",
      "vec_id", "e1"))
    assert(IvfIndex.compactEpochs(spark, dir))
    assert(graft.engine.Generations.currentName(dir).contains("gen-1"))
    // (a) orphans an earlier run's crashed sweep left behind — a
    // folded-named epoch dir, a superseded generation root, a legacy
    // cells dir — must be healed even when NO new epochs ever arrive:
    // compactEpochs' empty early-return still runs the published-state
    // sweep
    new File(s"$dir/epochs/e1/cells").mkdirs()
    java.nio.file.Files.createFile(Paths.get(s"$dir/epochs/e1/_claim"))
    new File(s"$dir/gen-0/cells").mkdirs()
    new File(s"$dir/cells").mkdirs()
    assert(!IvfIndex.compactEpochs(spark, dir), "nothing to fold")
    assert(!new File(s"$dir/epochs/e1").exists(),
      "epoch-less compaction must sweep crash-orphaned folded epochs")
    assert(!new File(s"$dir/gen-0").exists(),
      "epoch-less compaction must sweep superseded generation roots")
    assert(!new File(s"$dir/cells").exists(),
      "epoch-less compaction must sweep the legacy cells dir")
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == emb.count())
    // (b) a rebuild re-saved over the same path is a FULL overwrite:
    // the stale _CURRENT must not keep load() on the old generation
    val fresh = emb.select((col("vec_id") + 500000L).as("vec_id"),
      col("embedding"))
    IvfIndex.build(fresh, "embedding", "vec_id", nCells = 4).save(dir)
    assert(graft.engine.Generations.currentName(dir).isEmpty,
      "save() must clear the _CURRENT pointer")
    assert(!new File(s"$dir/gen-1").exists())
    assert(!new File(s"$dir/epochs").exists())
    assert(graft.engine.IvfIndex.cellsWithEpochs(spark, dir).count()
      == fresh.count())
    assert(spark.read.parquet(s"$dir/cells")
      .agg(min(col("vec_id"))).head().getLong(0) >= 500000L,
      "load must serve the NEW corpus, not the old generation's")
    // (c) base-codes version gate: codebook commits before the long
    // re-encode; a crash in that window must fail loudly, not serve
    // silently wrong ADC distances
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    val pq = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    assert(resultSet(pq.queryByIds(Seq(500000L), k = 3, nprobe = 2,
      refineFactor = 8)).nonEmpty)
    java.nio.file.Files.delete(Paths.get(s"$dir/codes/_pqv"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
        .queryByIds(Seq(500000L), k = 3, nprobe = 2, refineFactor = 8)
        .collect()
    }
    assert(e.getMessage.contains("addPqCodes"),
      s"torn-encode error must name the heal: ${e.getMessage}")
    // re-running addPqCodes is the documented heal
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    assert(resultSet(IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(500000L), k = 3, nprobe = 2, refineFactor = 8))
      .nonEmpty)
  }

  // ── tree-mode (two-level quantizer) lifecycle — r15 ──────────────────

  test("tree-mode build (nCells >= threshold): exhaustive probes equal " +
      "the brute-force top-k, and save/load round-trips the answers") {
    val emb = Tables.embeddings(spark, sf)
    val idx = IvfIndex.build(emb, "embedding", "vec_id", nCells = 64)
    // every candidate lives in exactly one leaf, so probing all cells
    // is brute force regardless of the quantizer
    val exhaustive = resultSet(idx.queryByIds(queryIds, k = 5,
      nprobe = 64))
    val brute = resultSet(Extensions.cosineTopK(emb, "embedding",
      "vec_id", queryIds, k = 5))
    assert(exhaustive == brute)
    val dir = Files.createTempDirectory("graft-ivf-tree").toString
    idx.save(dir)
    assert(new java.io.File(dir, "quantizer_tree").exists,
      "tree-mode save must write the quantizer_tree sidecar")
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    assert(resultSet(loaded.queryByIds(queryIds, k = 5, nprobe = 64))
      == exhaustive)
  }

  test("tree-mode appends assign by the SAME rule as build: a planted " +
      "exact duplicate lands in its original's cell (and gets its " +
      "original's PQ codes) through appendToSaved, appendEpoch and " +
      "appendPqToSaved") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-tree-append").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding")
    def cellsOf(path: String): Map[Long, Int] =
      spark.read.parquet(path).select("vec_id", "__cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def codesOf(path: String): Map[Long, Seq[Int]] =
      spark.read.parquet(path).select("vec_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // re-ingest copies of existing vectors under fresh ids: if any
    // append path resolved a DIFFERENT assignment rule than build
    // (flat instead of tree), a copy could land in another cell —
    // the saved layout itself is the witness
    val copies = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    IvfIndex.appendToSaved(spark, dir, copies, "embedding", "vec_id")
    IvfIndex.appendPqToSaved(spark, dir, copies, "embedding", "vec_id")
    val cells = cellsOf(s"$dir/cells")
    val codes = codesOf(s"$dir/codes")
    for (q <- 0L until 10L) {
      assert(cells(q + 500000L) == cells(q),
        s"copy of $q landed in cell ${cells(q + 500000L)}, " +
          s"original in ${cells(q)}")
      assert(codes(q + 500000L) == codes(q),
        s"copy of $q got different PQ codes")
    }
    // same through the exactly-once epoch path
    val copies2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select((col("vec_id") + 600000L).as("vec_id"), col("embedding"))
    assert(IvfIndex.appendEpoch(spark, dir, copies2, "embedding",
      "vec_id", "tree-e1"))
    val epochCells = cellsOf(s"$dir/epochs/tree-e1/cells")
    for (q <- 10L until 20L)
      assert(epochCells(q + 600000L) == cells(q),
        s"epoch copy of $q landed in cell ${epochCells(q + 600000L)}, " +
          s"original in ${cells(q)}")
  }

  test("flat re-save over a tree index removes the stale sidecar, so " +
      "appends resolve the flat rule again") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-tree-resave").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(dir)
    assert(new java.io.File(dir, "quantizer_tree").exists)
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 8).save(dir)
    assert(!new java.io.File(dir, "quantizer_tree").exists,
      "stale quantizer_tree survived a flat re-save")
    // and the flat layout still answers like the ad-hoc operator
    val viaIndex = resultSet(IvfIndex.load(spark, dir, "vec_id",
      "embedding").queryByIds(queryIds, k = 5, nprobe = 3))
    assert(viaIndex == resultSet(Extensions.annIvf(emb, "embedding",
      "vec_id", queryIds, k = 5, nprobe = 3, nCells = 8)))
  }

  test("tree-mode PRUNED queries probe the query's own tree-assigned " +
      "cell first (ADVICE r15): an exact duplicate is found at " +
      "nprobe = 1 with cosine 1.0") {
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivf-tree-self").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(dir)
    // plant exact duplicates under fresh ids: identical vectors assign
    // to identical tree cells, so the self-cell-first probe MUST see
    // them even at the tightest probe budget
    val dups = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    IvfIndex.appendToSaved(spark, dir, dups, "embedding", "vec_id")
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    val top = loaded.queryByIds(Seq(1000000L, 1000001L, 1000002L),
        k = 1, nprobe = 1)
      .select("query_id", "neighbor_id", "cosine_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top.length == 3)
    for ((q, n, c) <- top) {
      assert(n == q - 1000000L,
        s"duplicate query $q missed its original (got $n)")
      assert(c == 1.0, s"duplicate pair ($q, $n) scored $c, not 1.0")
    }
  }

  test("tree+PQ layout: loadPq ranks probes by the tree rule and " +
      "exhaustive-parameter queries still equal exact L2 top-k") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val dir = Files.createTempDirectory("graft-ivfpq-tree").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    val idx = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    val n = emb.count().toInt
    val out = idx.queryByIds(queryIds, k = 5, nprobe = 64,
      refineFactor = n)
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val byId = rows.toMap
    for (q <- queryIds) {
      val qe = byId(q).map(_.toDouble)
      val want = rows.filter(_._1 != q).map { case (id, e) =>
        val d = e.map(_.toDouble).zip(qe)
          .foldLeft(0.0) { case (a, (x, y)) => a + (x - y) * (x - y) }
        (math.rint(d * 1e6) / 1e6, id)
      }.sorted.take(5).map(_._2).toSeq
      val got = out.filter(col("query_id") === q).orderBy("rank")
        .select("neighbor_id").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"query $q: got $got want $want")
    }
  }

  test("refit compaction (compactEpochs refit = true) re-clusters the " +
      "accumulated corpus under a NEW quantizer staged inside the " +
      "generation: exhaustive answers unchanged, counts preserved, and " +
      "appends after the refit assign under the NEW rule") {
    val emb = Tables.embeddings(spark, sf)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val dir = Files.createTempDirectory("graft-ivf-refit").toString
    IvfIndex.build(half1, "embedding", "vec_id", nCells = 8).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir, half2, "embedding",
      "vec_id", "e1"))
    // exhaustive probes are quantizer-independent — the refit must not
    // move the answer
    val before = resultSet(IvfIndex.load(spark, dir, "vec_id",
      "embedding").queryByIds(queryIds, k = 5, nprobe = 8))
    val oldQv = IvfIndex.quantizerDigest(IvfIndex.readQuantizer(spark, dir))
    assert(IvfIndex.compactEpochs(spark, dir, refit = true))
    val newQv = IvfIndex.quantizerDigest(IvfIndex.readQuantizer(spark, dir))
    assert(newQv != oldQv,
      "refit over the grown corpus should retrain the quantizer")
    // the new quantizer flips WITH the generation (staged inside it)
    assert(new java.io.File(s"$dir/gen-1/quantizer").exists,
      "refit quantizer must stage inside the generation dir")
    assert(spark.read.parquet(s"$dir/gen-1/cells").count() == emb.count())
    val after = resultSet(IvfIndex.load(spark, dir, "vec_id",
      "embedding").queryByIds(queryIds, k = 5, nprobe = 8))
    assert(after == before)
    // an append AFTER the refit resolves the NEW rule: a planted exact
    // duplicate lands in its original's NEW cell
    val dups = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 700000L).as("vec_id"), col("embedding"))
    assert(IvfIndex.appendEpoch(spark, dir, dups, "embedding",
      "vec_id", "e2"))
    val baseCells = spark.read.parquet(s"$dir/gen-1/cells")
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val epochCells = spark.read.parquet(s"$dir/epochs/e2/cells")
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (q <- 0L until 5L)
      assert(epochCells(q + 700000L) == baseCells(q),
        s"post-refit copy of $q landed in ${epochCells(q + 700000L)}, " +
          s"original now in ${baseCells(q)}")
    // a later NON-refit compaction carries the refit quantizer forward
    // (without the carry, quantizerRoot would fall back to the stale
    // build-time table at $dir/quantizer)
    assert(IvfIndex.compactEpochs(spark, dir, refit = false))
    assert(IvfIndex.quantizerDigest(IvfIndex.readQuantizer(spark, dir))
      == newQv)
    assert(new java.io.File(s"$dir/gen-2/quantizer").exists)
  }

  test("refit compaction GROWS the cell budget with the corpus " +
      "(VERDICT r16 #1): nCells rises to the doctrine budget, answers " +
      "stay exact under exhaustive probes, and a budget crossing the " +
      "tree threshold re-fits in TREE mode with the sidecar staged " +
      "inside the generation; rowsPerCell = 0 freezes the budget") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count() // 500 at sf0.001
    // flat growth: born at 8, budget ceil(500/32) = 16
    val dir = Files.createTempDirectory("graft-ivf-grow").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", nCells = 8).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir,
      emb.filter(col("vec_id") % 2 === 1), "embedding", "vec_id", "e1"))
    val before = resultSet(IvfIndex.load(spark, dir, "vec_id",
      "embedding").queryByIds(queryIds, k = 5, nprobe = n.toInt))
    assert(IvfIndex.compactEpochs(spark, dir, refit = true,
      rowsPerCell = 32))
    val grown = IvfIndex.readQuantizer(spark, dir).size
    assert(grown == 16, s"born 8, doctrine budget 16, got $grown")
    assert(resultSet(IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(queryIds, k = 5, nprobe = n.toInt)) == before)
    // monotone: a later refit at a coarser rowsPerCell must not shrink
    assert(IvfIndex.compactEpochs(spark, dir, refit = true,
      rowsPerCell = 256))
    assert(IvfIndex.readQuantizer(spark, dir).size == 16,
      "the budget must never shrink below the current cell count")
    // frozen budget: rowsPerCell = 0 keeps the count across a refit
    assert(IvfIndex.compactEpochs(spark, dir, refit = true,
      rowsPerCell = 0))
    assert(IvfIndex.readQuantizer(spark, dir).size == 16)
    // tree crossing: budget ceil(500/4) = 125 >= treeCellThreshold —
    // the refit lands in tree mode, sidecar INSIDE the generation,
    // and exhaustive answers still match the flat-era ones
    assert(IvfIndex.compactEpochs(spark, dir, refit = true,
      rowsPerCell = 4))
    val treeCells = IvfIndex.readQuantizer(spark, dir).size
    assert(treeCells >= 64, s"expected a tree-regime budget, " +
      s"got $treeCells")
    val genRoot = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .maxBy(_.getName.stripPrefix("gen-").toInt)
    assert(new java.io.File(genRoot, "quantizer_tree").exists,
      "a tree-regime refit must stage its sidecar inside the generation")
    assert(resultSet(IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(queryIds, k = 5, nprobe = n.toInt)) == before)
    // an append after the tree refit resolves the tree rule: a planted
    // exact duplicate lands in its original's cell
    val dups = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"))
    assert(IvfIndex.appendEpoch(spark, dir, dups, "embedding",
      "vec_id", "e-tree"))
    val baseCells = spark.read.parquet(s"$genRoot/cells")
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val epochCells = spark.read.parquet(s"$dir/epochs/e-tree/cells")
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (q <- 0L until 3L)
      assert(epochCells(q + 800000L) == baseCells(q))
  }

  test("tombstones (take-down delete on a raw index): queries and the " +
      "PQ scan exclude the ids from the commit on, compactEpochs " +
      "physically removes the rows and retires the tombstone, and a " +
      "torn tombstone (no marker) is invisible") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val dir = Files.createTempDirectory("graft-ivf-tomb").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 8).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding",
      m = 4, kCode = 8)
    // a torn delete (staged ids, no marker) is invisible
    Seq(0L).toDF("__tomb_id")
      .write.mode("overwrite").parquet(s"$dir/tombstones/torn")
    assert(IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(10L), k = n.toInt, nprobe = 8)
      .filter(col("neighbor_id") < 5).count() > 0)
    // commit the tombstone for ids 0..4
    IvfIndex.delete(spark, dir,
      (0L until 5L).toDF("vec_id"), "vec_id", "t1")
    val res = IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(10L), k = n.toInt, nprobe = 8)
    assert(res.filter(col("neighbor_id") < 5).count() == 0L,
      "tombstoned ids surfaced in query results")
    val beforeFold = resultSet(res)
    val pq = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(10L), k = n.toInt, nprobe = 8,
        refineFactor = n.toInt)
    assert(pq.filter(col("neighbor_id") < 5).count() == 0L,
      "tombstoned ids surfaced in the PQ scan")
    // physical removal: the fold rewrites the base without the rows
    assert(IvfIndex.compactEpochs(spark, dir))
    assert(spark.read.parquet(s"$dir/gen-1/cells").count() == n - 5)
    assert(spark.read.parquet(s"$dir/gen-1/cells")
      .filter(col("vec_id") < 5).count() == 0L)
    assert(spark.read.parquet(s"$dir/gen-1/codes")
      .filter(col("vec_id") < 5).count() == 0L)
    // applied tombstones retired
    assert(!new java.io.File(s"$dir/_tombstones/t1").exists())
    assert(!new java.io.File(s"$dir/tombstones/t1").exists())
    // answers unchanged through the physical fold
    assert(resultSet(IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(10L), k = n.toInt, nprobe = 8)) == beforeFold)
  }

  test("a torn re-save (new quantizer written, stale tree sidecar " +
      "still on disk) fails LOUDLY on the _qv digest check instead of " +
      "serving silently-wrong tree assignments") {
    val emb = Tables.embeddings(spark, sf)
    val dirA = Files.createTempDirectory("graft-ivf-torn-a").toString
    val dirB = Files.createTempDirectory("graft-ivf-torn-b").toString
    IvfIndex.build(emb.filter(col("vec_id") < 250), "embedding",
      "vec_id", nCells = 64).save(dirA)
    IvfIndex.build(emb.filter(col("vec_id") >= 250), "embedding",
      "vec_id", nCells = 64).save(dirB)
    // simulate the crash window: the re-save wrote its new quantizer
    // but died before the cells (and before the sidecar rewrite)
    spark.read.parquet(s"$dirB/quantizer")
      .write.mode("overwrite").parquet(s"$dirA/quantizer")
    val err = intercept[IllegalArgumentException] {
      IvfIndex.load(spark, dirA, "vec_id", "embedding")
    }
    assert(err.getMessage.contains("torn"),
      s"expected the torn-save diagnosis, got: ${err.getMessage}")
  }
}

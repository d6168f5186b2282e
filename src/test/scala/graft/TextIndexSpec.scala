package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Extensions, Tables, TextIndex}

/** The persisted inverted index must answer exactly like the ad-hoc
  * bm25TopK operator, survive save/load, and — the point of the
  * layout — prune its term-hash bucket partitions at query time.
  */
class TextIndexSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  private def queries: DataFrame = Seq(
    (1L, "spark window join"),
    (2L, "merge sort batch stream")
  ).toDF("query_id", "qtext")

  private def resultSet(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("index query is bit-identical to the ad-hoc bm25TopK operator") {
    val docs = Tables.documents(spark, sf)
    val adhoc = Extensions.bm25TopK(docs, "text", "doc_id",
      queries, "qtext", "query_id", k = 10)
    val idx = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    val viaIndex = idx.query(queries, "qtext", "query_id", k = 10)
    assert(resultSet(viaIndex) == resultSet(adhoc))
    assert(resultSet(viaIndex).nonEmpty)
  }

  test("save/load round-trips the index and its answers") {
    val docs = Tables.documents(spark, sf)
    val idx = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    val before = resultSet(idx.query(queries, "qtext", "query_id", k = 5))
    val dir = Files.createTempDirectory("graft-tidx").toString
    idx.save(dir)
    val loaded = TextIndex.load(spark, dir)
    assert(loaded.nDocs == idx.nDocs && loaded.sumDl == idx.sumDl &&
      loaded.nBuckets == 16 && loaded.idCol == "doc_id")
    assert(resultSet(loaded.query(queries, "qtext", "query_id", k = 5))
      == before)
  }

  test("queries on the saved layout prune bucket partitions in the scan") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-prune").toString
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16).save(dir)
    val loaded = TextIndex.load(spark, dir)
    val out = loaded.query(Seq((1L, "spark")).toDF("query_id", "qtext"),
      "qtext", "query_id", k = 5)
    out.collect()
    val executed = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val plan = executed.toString
    // the query-term bucket ids must surface as a partition filter on
    // the postings scan — file-level pruning, the point of the layout
    val postingScan = plan.linesIterator
      .find(l => l.contains("postings") && l.contains("PartitionFilters"))
    assert(postingScan.isDefined,
      s"no partition-filtered postings scan in:\n$plan")
    assert(postingScan.get.contains("__bucket"),
      s"no __bucket filter in:\n$plan")
    // one query term → exactly one of the 16 bucket partitions READ
    // (the scan's own metric — inputFiles would list the pre-pruning
    // set, and AQE hides scans behind QueryStageExec leaves)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] =
      p.collectLeaves().flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case _ => Nil
      }
    val scan = scans(executed).find(
      _.metadata.get("Location").exists(_.contains("postings")))
    assert(scan.isDefined, s"no postings file scan in:\n$plan")
    assert(scan.get.metrics("numPartitions").value == 1L,
      s"expected 1 bucket partition read, got " +
        s"${scan.get.metrics("numPartitions").value}")
  }

  test("segmented index: two appended segments answer bit-identically " +
      "to one fresh build over the union; mismatched buckets rejected; " +
      "a committed-name replay refuses (no overwrite, no double-index)") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 0)
    val half2 = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 1)
    val dir = Files.createTempDirectory("graft-tidx-seg").toString
    graft.engine.TextIndex.appendSegment(half1, "text", "doc_id", dir,
      "snap-001", nBuckets = 16)
    graft.engine.TextIndex.appendSegment(half2, "text", "doc_id", dir,
      "snap-002", nBuckets = 16)
    val seg = graft.engine.TextIndex.loadSegments(spark, dir)
    val fresh = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    assert(seg.nDocs == fresh.nDocs && seg.sumDl == fresh.sumDl)
    assert(resultSet(seg.query(queries, "qtext", "query_id", k = 10))
      == resultSet(fresh.query(queries, "qtext", "query_id", k = 10)))
    // appending an existing segment name with the SAME data is a
    // refused replay (the appendEpoch claim shape, r18): false back,
    // nothing re-indexed
    assert(!graft.engine.TextIndex.appendSegment(half1, "text",
      "doc_id", dir, "snap-001", nBuckets = 16))
    val afterReplay = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(afterReplay.nDocs == fresh.nDocs &&
      afterReplay.sumDl == fresh.sumDl,
      "a committed-name replay must not change the corpus")
    // ... but reusing the name for DIFFERENT documents is a caller
    // naming bug and fails LOUDLY instead of dropping the batch (the
    // stats-fingerprint guard, r18 review finding)
    assertThrows[IllegalArgumentException] {
      graft.engine.TextIndex.appendSegment(half2, "text", "doc_id",
        dir, "snap-001", nBuckets = 16)
    }
    // a segment with a different bucket count is rejected at load
    graft.engine.TextIndex.appendSegment(half1.limit(5), "text", "doc_id",
      dir, "snap-003", nBuckets = 8)
    assertThrows[IllegalArgumentException] {
      graft.engine.TextIndex.loadSegments(spark, dir)
    }
  }

  test("a load skips a segment directory without stats (a crashed " +
      "append, the segment's commit point missing) and the retry " +
      "commits it") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val part = (r: Int) => docs.filter(col("doc_id") % 3 === r)
    val dir = Files.createTempDirectory("graft-tidx-torn").toString
    TextIndex.appendSegment(part(0), "text", "doc_id", dir, "a",
      nBuckets = 16)
    TextIndex.appendSegment(part(1), "text", "doc_id", dir, "b",
      nBuckets = 16)
    // the crash: postings written, stats never committed
    TextIndex.appendSegment(part(2), "text", "doc_id", dir, "c",
      nBuckets = 16)
    assert(graft.engine.Generations.delete(s"$dir/segments/c/stats"))
    val torn = TextIndex.load(spark, dir)
    val twoParts = TextIndex.build(part(0).union(part(1)), "text", "doc_id",
      nBuckets = 16)
    assert(torn.nDocs == twoParts.nDocs && torn.sumDl == twoParts.sumDl)
    assert(resultSet(torn.query(queries, "qtext", "query_id", k = 10)) ==
      resultSet(twoParts.query(queries, "qtext", "query_id", k = 10)))
    assert(TextIndex.appendSegment(part(2), "text", "doc_id", dir, "c",
      nBuckets = 16))
    val fresh = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    assert(resultSet(TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)) ==
      resultSet(fresh.query(queries, "qtext", "query_id", k = 10)))
  }

  test("an append that changes the corpus stats leaves a query's " +
      "whole-stage code unchanged: N and the mean length are bound, " +
      "not inlined") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-bound").toString
    def code(): Set[String] = {
      val df = TextIndex.load(spark, dir)
        .query(queries, "qtext", "query_id", k = 10)
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2
        .replaceAll("(CodegenStage|codegenStageId=)\\d+", "$1")).toSet
    }
    TextIndex.appendSegment(docs.filter(col("doc_id") % 3 === 0), "text",
      "doc_id", dir, "a", nBuckets = 16)
    val before = (TextIndex.load(spark, dir).nDocs, code())
    TextIndex.appendSegment(docs.filter(col("doc_id") % 3 =!= 0), "text",
      "doc_id", dir, "b", nBuckets = 16)
    val after = (TextIndex.load(spark, dir).nDocs, code())
    assert(after._1 > before._1)
    assert(before._2.nonEmpty && after._2 == before._2,
      "the append compiled new whole-stage code for the query")
  }

  test("segmented index: queries SHARING a term score identically to a " +
      "fresh full build (df must not be inflated per sharing query)") {
    val docs = Tables.documents(spark, sf)
    val half1 = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 0)
    val half2 = docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 1)
    val dir = Files.createTempDirectory("graft-tidx-shared").toString
    graft.engine.TextIndex.appendSegment(half1, "text", "doc_id", dir,
      "snap-001", nBuckets = 16)
    graft.engine.TextIndex.appendSegment(half2, "text", "doc_id", dir,
      "snap-002", nBuckets = 16)
    val seg = graft.engine.TextIndex.loadSegments(spark, dir)
    val fresh = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    // all three queries share "spark"; 2 and 3 also share "stream" —
    // df derived from (queryId, term)-joined postings would triple-count
    val shared = Seq(
      (1L, "spark window join"),
      (2L, "spark stream merge"),
      (3L, "spark stream sort")
    ).toDF("query_id", "qtext")
    val viaSeg = seg.query(shared, "qtext", "query_id", k = 10)
    val viaFresh = fresh.query(shared, "qtext", "query_id", k = 10)
    assert(resultSet(viaSeg) == resultSet(viaFresh))
    assert(resultSet(viaSeg).nonEmpty)
  }

  test("compactSegments merges the live set into one segment with " +
      "bit-identical answers; appends keep working after the flip; " +
      "the superseded root survives one grace cycle, then is swept") {
    val docs = Tables.documents(spark, sf)
    val third = (i: Int) => docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 3 === i)
    val dir = Files.createTempDirectory("graft-tidx-compact").toString
    (0 to 2).foreach(i => graft.engine.TextIndex.appendSegment(
      third(i), "text", "doc_id", dir, f"snap-$i%03d", nBuckets = 16))
    val before = graft.engine.TextIndex.loadSegments(spark, dir)
    val answersBefore = resultSet(
      before.query(queries, "qtext", "query_id", k = 10))
    assert(answersBefore.nonEmpty)
    assert(graft.engine.TextIndex.compactSegments(spark, dir))
    val after = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(after.nDocs == before.nDocs && after.sumDl == before.sumDl)
    assert(resultSet(after.query(queries, "qtext", "query_id", k = 10))
      == answersBefore)
    // one live segment under the new root; the superseded root is NOT
    // swept yet — a reader that resolved it just before the flip gets
    // a grace cycle to finish against intact files
    assert(new java.io.File(dir, "segments-1").listFiles()
      .count(_.isDirectory) == 1)
    assert(new java.io.File(dir, "segments").exists())
    // already-compact: no-op
    assert(!graft.engine.TextIndex.compactSegments(spark, dir))
    // appends land in the live root and are queryable
    import spark.implicits._
    graft.engine.TextIndex.appendSegment(
      Seq((900001L, "zebrafish zebrafish spark")).toDF("doc_id", "text"),
      "text", "doc_id", dir, "snap-new", nBuckets = 16)
    val grown = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(grown.nDocs == before.nDocs + 1)
    val hit = grown.query(Seq((9L, "zebrafish")).toDF("query_id", "qtext"),
        "qtext", "query_id", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hit == Set(900001L))
    // and a second compaction folds the append in
    assert(graft.engine.TextIndex.compactSegments(spark, dir))
    assert(graft.engine.TextIndex.loadSegments(spark, dir).nDocs
      == before.nDocs + 1)
  }

  test("retainFolded bounds the _segs_folded replay manifest (r18 " +
      "review finding F4): this fold's own names always survive the " +
      "budget, carried names drop oldest-first, retained names still " +
      "refuse replay, and the corpus is unchanged throughout") {
    val docs = Tables.documents(spark, sf)
    val part = (i: Int) => docs.filter(org.apache.spark.sql.functions
      .col("doc_id") % 5 === i)
    val dir = Files.createTempDirectory("graft-tidx-retain").toString
    def manifest(): Seq[String] = {
      val root = graft.engine.Generations.currentName(dir).get
      val f = java.nio.file.Paths.get(s"$dir/$root/_segs_folded")
      if (!java.nio.file.Files.exists(f)) Seq.empty
      else new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq
    }
    (0 to 2).foreach(i => graft.engine.TextIndex.appendSegment(
      part(i), "text", "doc_id", dir, f"snap-$i%03d", nBuckets = 16))
    assert(graft.engine.TextIndex.compactSegments(spark, dir,
      retainFolded = 2))
    // own names survive even PAST the budget — a replay straddling
    // this very compaction is the live hazard the manifest exists for
    assert(manifest() == Seq("snap-000", "snap-001", "snap-002"))
    (3 to 4).foreach(i => graft.engine.TextIndex.appendSegment(
      part(i), "text", "doc_id", dir, f"snap-$i%03d", nBuckets = 16))
    assert(graft.engine.TextIndex.compactSegments(spark, dir,
      retainFolded = 2))
    // second fold's own set (the merged segment + two appends) fills
    // the budget, so every carried first-fold name drops
    assert(manifest() == Seq("compact-000001", "snap-003", "snap-004"))
    // a RETAINED folded name still refuses replay
    assert(!graft.engine.TextIndex.appendSegment(part(3), "text",
      "doc_id", dir, "snap-003", nBuckets = 16))
    val after = graft.engine.TextIndex.loadSegments(spark, dir)
    val fresh = TextIndex.build(
      (0 to 4).map(part).reduce(_.unionByName(_)),
      "text", "doc_id", nBuckets = 16)
    assert(after.nDocs == fresh.nDocs && after.sumDl == fresh.sumDl)
    assert(resultSet(after.query(queries, "qtext", "query_id", k = 10))
      == resultSet(fresh.query(queries, "qtext", "query_id", k = 10)))
  }

  test("a compaction that crashed mid-stage (unpublished segments-N " +
      "root on disk) heals: the re-run deletes the torn stage, " +
      "restages, and answers stay bit-identical — errorifexists on " +
      "the leftover would otherwise wedge every future compaction") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-torn").toString
    (0 to 1).foreach(i => graft.engine.TextIndex.appendSegment(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === i),
      "text", "doc_id", dir, f"snap-$i%03d", nBuckets = 16))
    val answersBefore = resultSet(graft.engine.TextIndex
      .loadSegments(spark, dir).query(queries, "qtext", "query_id", k = 10))
    // simulate the crash: a partial stage for the NEXT generation
    // exists but the pointer never flipped
    val torn = new java.io.File(dir, "segments-1/compact-000001/postings")
    torn.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(torn, "part-junk.parquet").toPath,
      Array[Byte](1, 2, 3))
    // the live set is untouched (reads resolve the pointer, which
    // still names the original root)
    assert(resultSet(graft.engine.TextIndex.loadSegments(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)) == answersBefore)
    // the re-run heals: restage, audit, flip — same answers
    assert(graft.engine.TextIndex.compactSegments(spark, dir))
    assert(resultSet(graft.engine.TextIndex.loadSegments(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)) == answersBefore)
    assert(new java.io.File(dir, "segments-1").listFiles()
      .count(_.isDirectory) == 1)
  }

  test("take-down delete on the PLAIN layout: post-delete queries " +
      "score bit-identically to a fresh build over the survivors " +
      "(df/nDocs/sumDl corrections exact), a torn delete is " +
      "invisible, a committed replay no-ops, and re-save removes the " +
      "rows physically and clears the applied epochs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-del").toString
    PlainTextLayout.write(docs, "text", "doc_id", dir, nBuckets = 16)
    val pre = TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)
    // delete two docs that actually RANK for the test queries (so the
    // exclusion is non-vacuous) plus one absent id (stats no-op)
    val ranked = pre.select("doc_id").collect().map(_.getLong(0))
    val delIds = Seq(ranked.head, ranked.last, 987654321L).distinct
    import spark.implicits._
    // torn delete (staged ids, no marker) is invisible
    delIds.toDF("__del_id")
      .write.mode("overwrite").parquet(s"$dir/deletes/d1")
    assert(resultSet(TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)) == resultSet(pre))
    TextIndex.delete(spark, dir, delIds.toDF("doc_id"), "doc_id", "d1")
    val survivors = docs.filter(!col("doc_id").isin(delIds: _*))
    val twin = TextIndex.build(survivors, "text", "doc_id", nBuckets = 16)
    val loaded = TextIndex.load(spark, dir)
    assert(loaded.nDocs == twin.nDocs && loaded.sumDl == twin.sumDl,
      s"stats (${loaded.nDocs}, ${loaded.sumDl}) vs fresh twin " +
        s"(${twin.nDocs}, ${twin.sumDl})")
    val after = resultSet(loaded.query(queries, "qtext", "query_id",
      k = 10))
    assert(after == resultSet(twin.query(queries, "qtext", "query_id",
      k = 10)), "post-delete scores must equal the never-ingested twin")
    assert(!after.exists(r => delIds.contains(r._2)))
    assert(after != resultSet(pre), "the delete must be non-vacuous")
    // committed replay: no-op (even with different ids in the frame)
    TextIndex.delete(spark, dir, Seq(1L).toDF("doc_id"), "doc_id", "d1")
    assert(resultSet(TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)) == after)
    // re-save to a new path writes the live documents only: rows gone
    // from the files, no delete epochs, answers unchanged
    val dir2 = Files.createTempDirectory("graft-tidx-del2").toString
    loaded.save(dir2)
    def postingsOf(p: String) = TextIndex.segmentDirs(p)
      .map(d => spark.read.parquet(s"$d/postings")).reduce(_.unionByName(_))
    assert(postingsOf(dir2).filter(col("doc_id").isin(delIds: _*))
      .count() == 0L, "deleted docs' postings survived the re-save")
    assert(!new java.io.File(dir2, "_deletes").exists())
    val resaved = TextIndex.load(spark, dir2)
    assert(resaved.nDocs == twin.nDocs && resaved.sumDl == twin.sumDl)
    assert(resultSet(resaved.query(queries, "qtext", "query_id",
      k = 10)) == after)
    // and the re-saved postings equal a fresh build's over the
    // survivors at the file level, not just through the query path
    val twinDir = Files.createTempDirectory("graft-tidx-del-twin").toString
    twin.save(twinDir)
    val rowsOf = (p: String) => postingsOf(p)
      .select("doc_id", "term", "tf", "dl", "__bucket")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(rowsOf(dir2) == rowsOf(twinDir))
  }

  test("take-down delete on the SEGMENTED layout: logical exclusion " +
      "equals the never-ingested twin, compactSegments applies the " +
      "delete physically (single segment included), the applied epoch " +
      "survives one grace generation, and the next compaction retires " +
      "it") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-seg-del").toString
    (0 to 1).foreach(i => graft.engine.TextIndex.appendSegment(
      docs.filter(col("doc_id") % 2 === i), "text", "doc_id", dir,
      f"snap-$i%03d", nBuckets = 16))
    val pre = graft.engine.TextIndex.loadSegments(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)
    val delIds = Seq(pre.select("doc_id").collect().map(_.getLong(0))
      .head, 987654321L)
    import spark.implicits._
    graft.engine.TextIndex.delete(spark, dir, delIds.toDF("doc_id"),
      "doc_id", "d1")
    val survivors = docs.filter(!col("doc_id").isin(delIds: _*))
    val twin = TextIndex.build(survivors, "text", "doc_id", nBuckets = 16)
    val seg = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(seg.nDocs == twin.nDocs && seg.sumDl == twin.sumDl)
    val want = resultSet(twin.query(queries, "qtext", "query_id", k = 10))
    assert(resultSet(seg.query(queries, "qtext", "query_id", k = 10))
      == want)
    // compaction applies it physically — answers and stats unchanged
    assert(graft.engine.TextIndex.compactSegments(spark, dir))
    assert(spark.read
      .parquet(s"$dir/segments-1/compact-000001/postings")
      .filter(col("doc_id").isin(delIds: _*)).count() == 0L,
      "deleted docs' postings survived the compaction")
    val afterC = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(afterC.nDocs == twin.nDocs && afterC.sumDl == twin.sumDl)
    assert(resultSet(afterC.query(queries, "qtext", "query_id", k = 10))
      == want)
    // the applied epoch gets ONE grace generation (readers of the
    // superseded root still filter through it), then retires
    assert(new java.io.File(dir, "_deletes/d1").exists())
    // a SECOND delete on the single-segment compacted index: the
    // early-return carve-out — pending deletes are compaction work
    val delIds2 = Seq(resultSet(afterC.query(queries, "qtext",
      "query_id", k = 10)).head._2)
    graft.engine.TextIndex.delete(spark, dir, delIds2.toDF("doc_id"),
      "doc_id", "d2")
    assert(graft.engine.TextIndex.compactSegments(spark, dir),
      "a single-segment index with a pending delete must still compact")
    assert(!new java.io.File(dir, "_deletes/d1").exists(),
      "the grace-served epoch must retire on the next compaction")
    assert(!new java.io.File(dir, "deletes/d1").exists())
    assert(new java.io.File(dir, "_deletes/d2").exists())
    val twin2 = TextIndex.build(
      docs.filter(!col("doc_id").isin((delIds ++ delIds2): _*)),
      "text", "doc_id", nBuckets = 16)
    val afterC2 = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(afterC2.nDocs == twin2.nDocs && afterC2.sumDl == twin2.sumDl)
    assert(resultSet(afterC2.query(queries, "qtext", "query_id", k = 10))
      == resultSet(twin2.query(queries, "qtext", "query_id", k = 10)))
    // nothing pending → no-op again
    assert(!graft.engine.TextIndex.compactSegments(spark, dir))
    // manifest boundedness (ADVICE r17): a third compaction's
    // manifest drops names whose epoch dirs were retired by an
    // earlier cycle (d1) instead of carrying every applied name
    // forever — they need no exclusion claim once their dirs are gone
    val delIds3 = Seq(resultSet(afterC2.query(queries, "qtext",
      "query_id", k = 10)).head._2)
    graft.engine.TextIndex.delete(spark, dir, delIds3.toDF("doc_id"),
      "doc_id", "d3")
    assert(graft.engine.TextIndex.compactSegments(spark, dir))
    val root3 = graft.engine.Generations.currentName(dir).get
    val manifest3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$root3/_dels_applied")), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSet
    assert(manifest3 == Set("d2", "d3"),
      s"manifest must drop retired names, got $manifest3")
    val twin3 = TextIndex.build(
      docs.filter(!col("doc_id").isin(
        (delIds ++ delIds2 ++ delIds3): _*)),
      "text", "doc_id", nBuckets = 16)
    val afterC3 = graft.engine.TextIndex.loadSegments(spark, dir)
    assert(afterC3.nDocs == twin3.nDocs && afterC3.sumDl == twin3.sumDl)
    assert(resultSet(afterC3.query(queries, "qtext", "query_id", k = 10))
      == resultSet(twin3.query(queries, "qtext", "query_id", k = 10)))
  }

  test("compaction of a plain layout (VERDICT r17 #1): a crash at ANY " +
      "point before the pointer flip leaves committed take-downs " +
      "intact; after the flip the grace-cycle manifest prevents " +
      "double-subtraction; the next compaction retires the applied " +
      "epochs; a delete committed after a load stays excluded") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-crash").toString
    PlainTextLayout.write(docs, "text", "doc_id", dir, nBuckets = 16)
    val pre = TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10)
    val delId = pre.select("doc_id").collect().map(_.getLong(0)).head
    TextIndex.delete(spark, dir, Seq(delId).toDF("doc_id"), "doc_id",
      "takedown")
    def twinWithout(ids: Long*) = TextIndex.build(
      docs.filter(!col("doc_id").isin(ids: _*)), "text", "doc_id",
      nBuckets = 16)
    val twin = twinWithout(delId)
    val want = resultSet(twin.query(queries, "qtext", "query_id",
      k = 10))
    def checkLoaded(): Unit = {
      val l = TextIndex.load(spark, dir)
      assert(l.nDocs == twin.nDocs && l.sumDl == twin.sumDl,
        s"stats (${l.nDocs}, ${l.sumDl}) vs twin " +
          s"(${twin.nDocs}, ${twin.sumDl})")
      assert(resultSet(l.query(queries, "qtext", "query_id", k = 10))
        == want)
    }
    checkLoaded()
    // crash BEFORE the flip: a compaction that staged everything —
    // postings, stats, even the manifest — but never flipped the
    // pointer. The live state is untouched: the delete still excludes
    // and corrects. Faked by staging a full segments-1 the way the
    // compaction would, sans publish.
    val stage = s"$dir/segments-1/compact-000001"
    PlainTextLayout.postings(dir).filter(col("doc_id") =!= delId)
      .drop("df").write.partitionBy("__bucket").parquet(s"$stage/postings")
    spark.read.parquet(s"$dir/plain-1/stats").write.parquet(s"$stage/stats")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/segments-1/_dels_applied"),
      "takedown".getBytes("UTF-8"))
    assert(new java.io.File(s"$dir/_deletes/takedown").exists(),
      "the staged-but-unpublished compaction must not have touched epochs")
    checkLoaded()
    // the interrupted compaction RETRIES: the stale unpublished stage
    // is restaged, the flip commits, and the state equals the twin with
    // the applied epoch held for one grace cycle
    assert(TextIndex.compactSegments(spark, dir))
    assert(graft.engine.Generations.currentName(dir).contains("segments-1"))
    assert(new java.io.File(s"$dir/_deletes/takedown").exists(),
      "the applied epoch gets one grace generation")
    assert(spark.read.parquet(s"$stage/postings")
      .filter(col("doc_id") === delId).count() == 0L,
      "the published generation must have removed the postings")
    checkLoaded() // manifest exclusion: no double-subtraction
    // a crashed delete's staging orphan is reclaimed by the next
    // maintenance call
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_staging-del-zombie"),
      "9|9".getBytes("UTF-8"))
    TextIndex.delete(spark, dir, Seq(987654321L).toDF("doc_id"),
      "doc_id", "noop-del")
    assert(!new java.io.File(s"$dir/_staging-del-zombie").exists(),
      "delete() must sweep crashed staging files")
    checkLoaded()
    // a delete committed AFTER a load: the loaded handle predates it,
    // the compaction resolves it and applies it, and it stays excluded
    val stale = TextIndex.load(spark, dir)
    val lateId = want.head._2
    TextIndex.delete(spark, dir, Seq(lateId).toDF("doc_id"),
      "doc_id", "late-del")
    assert(resultSet(stale.query(queries, "qtext", "query_id", k = 10))
      == want, "a handle answers from the layout it loaded")
    assert(TextIndex.compactSegments(spark, dir))
    // grace over: the first epoch retires, the plain root is swept
    assert(!new java.io.File(s"$dir/_deletes/takedown").exists() &&
      !new java.io.File(s"$dir/deletes/takedown").exists(),
      "the applied epoch must retire after its grace cycle")
    assert(!new java.io.File(s"$dir/plain-1").exists(),
      "retain must sweep generations beyond the keep window")
    assert(new java.io.File(s"$dir/_deletes/late-del").exists())
    val twinLate = twinWithout(delId, lateId)
    val afterLate = TextIndex.load(spark, dir)
    assert(afterLate.nDocs == twinLate.nDocs &&
      afterLate.sumDl == twinLate.sumDl,
      s"stats (${afterLate.nDocs}, ${afterLate.sumDl}) vs late twin " +
        s"(${twinLate.nDocs}, ${twinLate.sumDl})")
    val lateRows = resultSet(afterLate.query(queries, "qtext",
      "query_id", k = 10))
    assert(!lateRows.exists(_._2 == lateId),
      "the late take-down must still exclude after the compaction")
    assert(lateRows == resultSet(twinLate.query(queries, "qtext",
      "query_id", k = 10)))
  }

  for (flat <- Seq(false, true)) {
    val form = if (flat) "a legacy flat root" else "a plain-<n> generation"
    test(s"a plain layout saved as $form loads bit-identically to a " +
        "fresh build over the survivors, takes deletes, and compaction " +
        "migrates it to segments-<n> with equal answers") {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, sf)
      val emb = Tables.embeddings(spark, sf)
      val dir = Files.createTempDirectory("graft-tidx-compat").toString
      // an older delete the plain layout already applied (its postings
      // are gone, its marker awaits retirement) ...
      val (oldIds, newIds) = (Seq(3L, 4L), Seq(7L, 11L))
      PlainTextLayout.write(docs.filter(!col("doc_id").isin(oldIds: _*)),
        "text", "doc_id", dir, nBuckets = 16, flat = flat,
        applied = Seq("d-old"))
      oldIds.toDF("__del_id").write.parquet(s"$dir/deletes/d-old")
      graft.engine.Generations.writeText(s"$dir/_deletes/d-old", "2|17",
        stageDir = Some(dir))
      // ... and a live one, committed against the plain layout
      TextIndex.delete(spark, dir, newIds.toDF("doc_id"), "doc_id", "d-new")
      assert(new java.io.File(s"$dir/_deletes/d-new").exists())
      val survivors = docs.filter(!col("doc_id").isin(oldIds ++ newIds: _*))
      val twin = TextIndex.build(survivors, "text", "doc_id", nBuckets = 16)
      val want = resultSet(twin.query(queries, "qtext", "query_id", k = 10))
      val loaded = TextIndex.load(spark, dir)
      assert((loaded.nDocs, loaded.sumDl) == ((twin.nDocs, twin.sumDl)))
      assert(resultSet(loaded.query(queries, "qtext", "query_id", k = 10))
        == want)
      assert(want.nonEmpty)
      // maintenance migrates the text side to a segment root
      val ivf = Files.createTempDirectory("graft-tidx-compat-v").toString
      graft.engine.IvfIndex.build(emb, "embedding", "vec_id", nCells = 4)
        .save(ivf)
      assert(graft.engine.HybridIndex.compact(spark, dir, ivf)._1)
      assert(graft.engine.Generations.currentName(dir)
        .contains("segments-1"))
      val migrated = TextIndex.load(spark, dir)
      assert((migrated.nDocs, migrated.sumDl) == ((twin.nDocs, twin.sumDl)))
      assert(resultSet(migrated.query(queries, "qtext", "query_id",
        k = 10)) == want)
      assert(!new java.io.File(s"$dir/_deletes/d-old").exists(),
        "the delete the plain layout applied has served its grace cycle")
      // appends land in the migrated root
      assert(TextIndex.appendSegment(
        Seq((900001L, "zebrafish spark")).toDF("doc_id", "text"), "text",
        "doc_id", dir, "snap-new", nBuckets = 16))
      assert(TextIndex.load(spark, dir).nDocs == twin.nDocs + 1)
      // the next compaction sweeps the superseded plain root
      assert(TextIndex.compactSegments(spark, dir))
      val plainRoot = if (flat) s"$dir/postings" else s"$dir/plain-1"
      assert(!new java.io.File(plainRoot).exists())
    }
  }

  test("save writes a new index: onto a path that already holds one it " +
      "fails loudly, and compaction is the rewrite of an index") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft-tidx-once").toString
    val idx = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
    idx.save(dir)
    val e = intercept[IllegalArgumentException](idx.save(dir))
    assert(e.getMessage.contains("already holds a text index"))
    intercept[IllegalArgumentException](TextIndex.load(spark, dir).save(dir))
    val seg = Files.createTempDirectory("graft-tidx-once-seg").toString
    TextIndex.appendSegment(docs, "text", "doc_id", seg, "a", nBuckets = 16)
    intercept[IllegalArgumentException](idx.save(seg))
    assert(resultSet(TextIndex.load(spark, dir)
      .query(queries, "qtext", "query_id", k = 10))
      == resultSet(idx.query(queries, "qtext", "query_id", k = 10)))
  }

  test("build, save and a collected bm25TopK leave no cached frame " +
      "behind") {
    val docs = Tables.documents(spark, sf)
    def cached = spark.sparkContext.getPersistentRDDs.size
    val before = cached
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
      .save(Files.createTempDirectory("graft-tidx-cache").toString)
    assert(cached == before, "build(...).save(p) left a cached frame")
    assert(Extensions.bm25TopK(docs, "text", "doc_id", queries, "qtext",
      "query_id", k = 5).collect().nonEmpty)
    assert(cached == before, "bm25TopK left a cached frame")
  }

  test("bm25TopK equals the broadcast-join formulation it replaced, " +
      "bit for bit") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val shared = Seq((1L, "spark window join"), (2L, "spark stream merge"),
      (3L, "join join"), (4L, "   ")).toDF("query_id", "qtext")
    // the reference: corpus statistics as aggregates, the query terms
    // broadcast onto the (doc, term, tf) postings
    val tf = docs
      .select(col("doc_id"), explode(Extensions.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val qterms = shared
      .select(col("query_id"), explode(Extensions.tokens(col("qtext"))).as("term"))
      .filter(col("term") =!= "").distinct()
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val fTf = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) +
        (lit(0.75) * col("dl")) / (col("sum_dl") / col("n_docs"))))
    val reference = tf.join(broadcast(qterms), "term")
      .join(dfreq, "term").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__contrib", round(idf * fTf * lit(1000000.0)).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum("__contrib").as("__score_int"))
    val ranked = reference
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(desc("__score_int"), asc("doc_id"))).cast("int"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"),
        (col("__score_int") / lit(1000000.0)).as("bm25"), col("rank"))
    def bits(df: DataFrame) = df.collect().map(r => (r.getLong(0),
      r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
      r.getInt(3))).toSet
    val got = bits(Extensions.bm25TopK(docs, "text", "doc_id", shared,
      "qtext", "query_id", k = 10))
    assert(got.nonEmpty)
    assert(got == bits(ranked))
  }

  test("build rejects reserved internal column names") {
    val bad = Tables.documents(spark, sf)
      .withColumn("tf", org.apache.spark.sql.functions.lit(1))
    assertThrows[IllegalArgumentException] {
      TextIndex.build(bad, "text", "doc_id")
    }
  }
}

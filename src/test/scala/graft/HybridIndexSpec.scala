package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Extensions, HybridIndex, IvfIndex, SegmentedTextIndex,
  Tables, TextIndex}

/** The persisted hybrid query path must answer exactly like the
  * in-memory rrfFusion under exhaustive dense probes, and keep its
  * lexical branch exact when the dense branch prunes.
  */
class HybridIndexSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val ids = Seq(0L, 1L, 2L)
  private val NCells = 8

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("query_id", "rank").collect().map(_.toString).toSeq

  /** The postings files of the live text layout. */
  private def textPostings(dir: String): DataFrame =
    TextIndex.segmentDirs(dir).map(d => spark.read.parquet(s"$d/postings"))
      .reduce(_.unionByName(_))

  private lazy val (savedText, savedIvf): (SegmentedTextIndex, IvfIndex) = {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val tDir = Files.createTempDirectory("graft-hyb-t").toString
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16).save(tDir)
    val vDir = Files.createTempDirectory("graft-hyb-v").toString
    IvfIndex.build(emb, "embedding", "vec_id", nCells = NCells).save(vDir)
    (TextIndex.load(spark, tDir),
      IvfIndex.load(spark, vDir, "vec_id", "embedding"))
  }

  test("hybrid query over SAVED indexes equals the in-memory rrfFusion " +
      "bit-for-bit under exhaustive dense probes") {
    val viaIndexes = HybridIndex.queryByIds(savedText, savedIvf,
      Tables.documents(spark, sf), "text", ids,
      kBranch = 10, k = 10, nprobe = NCells)
    val inMemory = Extensions.rrfFusion(
      Tables.documents(spark, sf), "text", "doc_id",
      Tables.embeddings(spark, sf), "embedding", "vec_id",
      queryIds = ids, kBranch = 10, k = 10)
    assert(rows(viaIndexes) == rows(inMemory))
    assert(rows(viaIndexes).nonEmpty)
  }

  test("pruned dense probes (nprobe=1) keep the lexical branch exact " +
      "and the output well-formed") {
    // k = 2·kBranch: the reference keeps EVERY fused candidate, so a
    // pruned-run candidate can never be missing just because denser
    // competition cut it from a smaller reference k
    val exhaustive = HybridIndex.queryByIds(savedText, savedIvf,
      Tables.documents(spark, sf), "text", ids,
      kBranch = 10, k = 20, nprobe = NCells)
    val pruned = HybridIndex.queryByIds(savedText, savedIvf,
      Tables.documents(spark, sf), "text", ids,
      kBranch = 10, k = 10, nprobe = 1)
    def lexRanks(df: DataFrame): Map[(Long, Long), Int] =
      df.collect().flatMap { r =>
        Option(r.getAs[Integer]("lex_rank")).map(lr =>
          (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) -> lr.toInt)
      }.toMap
    val ex = lexRanks(exhaustive)
    // every lexically-ranked candidate surviving the pruned fusion
    // carries the same exact lexical rank — pruning only touches the
    // dense branch
    lexRanks(pruned).foreach { case (key, lr) =>
      assert(ex.get(key).contains(lr), s"lex rank drifted for $key")
    }
    val out = pruned.collect()
    assert(out.nonEmpty)
    assert(!out.exists(r =>
      r.getAs[Long]("doc_id") == r.getAs[Long]("query_id")))
    // ranks are 1..n per query with no gaps
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq)
    }
  }

  test("take-down delete mirrors through BOTH branches (VERDICT r16 " +
      "#2): a deleted doc stops ranking in lexical, dense, and fused " +
      "results, and after both sides' physical removal the hybrid " +
      "answer equals a never-ingested twin bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val tDir = Files.createTempDirectory("graft-hyb-del-t").toString
    val vDir = Files.createTempDirectory("graft-hyb-del-v").toString
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16).save(tDir)
    IvfIndex.build(emb, "embedding", "vec_id", nCells = NCells).save(vDir)
    val pre = HybridIndex.queryByIds(TextIndex.load(spark, tDir),
      IvfIndex.load(spark, vDir, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    // delete the top fused hit of the first query — maximally
    // non-vacuous on both branches
    val delId = pre.orderBy("query_id", "rank")
      .select("doc_id").head().getLong(0)
    HybridIndex.delete(spark, tDir, vDir, Seq(delId).toDF("doc_id"),
      "doc_id", "take-down-1")
    val after = HybridIndex.queryByIds(TextIndex.load(spark, tDir),
      IvfIndex.load(spark, vDir, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    assert(!after.select("doc_id").collect().map(_.getLong(0))
      .contains(delId), "deleted doc still ranks in the hybrid result")
    // the never-ingested twin (fresh builds over the survivors)
    val tTwin = Files.createTempDirectory("graft-hyb-del-tt").toString
    val vTwin = Files.createTempDirectory("graft-hyb-del-vt").toString
    TextIndex.build(docs.filter(col("doc_id") =!= delId), "text",
      "doc_id", nBuckets = 16).save(tTwin)
    IvfIndex.build(emb.filter(col("vec_id") =!= delId), "embedding",
      "vec_id", nCells = NCells).save(vTwin)
    val twin = HybridIndex.queryByIds(TextIndex.load(spark, tTwin),
      IvfIndex.load(spark, vTwin, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    // NOTE: dense ranks are exact under exhaustive probes and the
    // lexical side corrects df/nDocs/sumDl exactly, so the fused rows
    // must be IDENTICAL to the twin's — logical-exclusion mode first
    assert(rows(after) == rows(twin),
      "post-delete hybrid result must equal the never-ingested twin")
    // physical removal on both sides (text and ivf compaction), then
    // the same equality through the cleaned layouts
    assert(TextIndex.compactSegments(spark, tDir))
    IvfIndex.compactEpochs(spark, vDir, refit = false)
    assert(textPostings(tDir).filter(col("doc_id") === delId).count() == 0L)
    assert(spark.read
      .parquet(s"${IvfIndex.baseRoot(vDir)}/cells")
      .filter(col("vec_id") === delId).count() == 0L)
    assert(!new java.io.File(s"$vDir/_tombstones").exists() ||
      new java.io.File(s"$vDir/_tombstones").list().isEmpty,
      "the applied tombstone must retire at compaction")
    val afterPhysical = HybridIndex.queryByIds(
      TextIndex.load(spark, tDir),
      IvfIndex.load(spark, vDir, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    assert(rows(afterPhysical) == rows(twin))
  }

  test("EXTERNAL-query hybrid (r18): a query that duplicates a stored " +
      "document surfaces that document at fused rank 1 with dense " +
      "rank 1 (no self-exclusion; cosine with itself is exactly 1.0 — " +
      "lexical leadership is NOT a theorem: BM25's length " +
      "normalization can rank a shorter doc above the twin), ids " +
      "offset out of the corpus space, ranks well-formed") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val dupIds = Seq(5L, 17L)
    val q = docs.filter(col("doc_id").isin(dupIds: _*))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .select((col("doc_id") + org.apache.spark.sql.functions
        .lit(1000000L)).as("qid"),
        col("text").as("qtext"), col("embedding").as("qvec"))
    val out = HybridIndex.query(savedText, savedIvf, q, "qid", "qtext",
      "qvec", kBranch = 10, k = 10, nprobe = NCells)
    val rows = out.collect()
    dupIds.foreach { id =>
      val top = rows.filter(r => r.getAs[Long]("query_id") ==
        id + 1000000L && r.getAs[Int]("rank") == 1).head
      assert(top.getAs[Long]("doc_id") == id,
        s"duplicate query of doc $id must surface it at rank 1")
      assert(top.getAs[Integer]("vec_rank") == 1,
        "the stored twin must lead the dense branch — no " +
          "self-exclusion on external queries")
    }
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq)
    }
  }

  test("TREE-mode hybrid (VERDICT r17 #5): the dense branch of a " +
      "past-threshold index runs the loaded sidecar's two-level " +
      "probes; exhaustive probes equal the in-memory rrfFusion " +
      "bit-for-bit, pruned probes keep the lexical branch exact") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val tDir = Files.createTempDirectory("graft-hyb-tree-t").toString
    val vDir = Files.createTempDirectory("graft-hyb-tree-v").toString
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16).save(tDir)
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(vDir)
    val text = TextIndex.load(spark, tDir)
    val ivf = IvfIndex.load(spark, vDir, "vec_id", "embedding")
    val tq = ivf.treeQuantizer
    assert(tq.isDefined,
      "nCells=64 must cross the tree threshold and round-trip the " +
        "sidecar")
    // exhaustive: nprobe >= nLeaves probes every leaf, so the dense
    // branch is exact and the fused result must equal the in-memory
    // operator (the flat-mode parity law carried into tree mode)
    val exhaustive = HybridIndex.queryByIds(text, ivf, docs, "text",
      ids, kBranch = 10, k = 10, nprobe = tq.get.nLeaves)
    val inMemory = Extensions.rrfFusion(docs, "text", "doc_id",
      emb, "embedding", "vec_id", queryIds = ids, kBranch = 10, k = 10,
      rrfK = 60)
    assert(rows(exhaustive) == rows(inMemory))
    // pruned: the dense branch inherits the tree recall trade, the
    // lexical ranks must not move (pruning never touches that branch)
    val pruned = HybridIndex.queryByIds(text, ivf, docs, "text",
      ids, kBranch = 10, k = 10, nprobe = 4)
    def lexRanks(df: DataFrame): Map[(Long, Long), Int] =
      df.collect().flatMap { r =>
        Option(r.getAs[Integer]("lex_rank")).map(lr =>
          (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) -> lr.toInt)
      }.toMap
    val ex = lexRanks(exhaustive)
    lexRanks(pruned).foreach { case (key, lr) =>
      assert(ex.get(key).contains(lr), s"lex rank drifted for $key")
    }
    assert(pruned.count() > 0)
  }

  test("one-sided delete crash window (VERDICT r17 #6): a crash " +
      "between the text and vector commits leaves a visible skew — " +
      "lexical excludes, dense still ranks — and retrying the SAME " +
      "name completes the mirror to full exclusion") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val tDir = Files.createTempDirectory("graft-hyb-skew-t").toString
    val vDir = Files.createTempDirectory("graft-hyb-skew-v").toString
    TextIndex.build(docs, "text", "doc_id", nBuckets = 16).save(tDir)
    IvfIndex.build(emb, "embedding", "vec_id", nCells = NCells).save(vDir)
    def query() = HybridIndex.queryByIds(TextIndex.load(spark, tDir),
      IvfIndex.load(spark, vDir, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    val pre = query().collect()
    // a doc that ranks on BOTH branches for some query, so each
    // side's exclusion is independently observable
    val both = pre.filter(r => r.getAs[Integer]("lex_rank") != null &&
      r.getAs[Integer]("vec_rank") != null)
    assert(both.nonEmpty, "fixture needs a dual-branch hit")
    val delId = both.head.getAs[Long]("doc_id")
    // the crash: HybridIndex.delete commits text FIRST, then vector —
    // simulate dying between the two by issuing only the text half
    TextIndex.delete(spark, tDir, Seq(delId).toDF("doc_id"), "doc_id",
      "skewed-del")
    val skewed = query().collect()
    assert(!skewed.exists(r => r.getAs[Long]("doc_id") == delId &&
      r.getAs[Integer]("lex_rank") != null),
      "the committed text half must already exclude lexically")
    assert(skewed.exists(r => r.getAs[Long]("doc_id") == delId &&
      r.getAs[Integer]("vec_rank") != null),
      "the uncommitted vector half must still rank the doc densely " +
        "(the documented mid-crash skew)")
    // the heal-by-retry contract: the SAME name replays the committed
    // text half as a no-op and completes the vector half
    HybridIndex.delete(spark, tDir, vDir, Seq(delId).toDF("doc_id"),
      "doc_id", "skewed-del")
    val healed = query().collect()
    assert(!healed.exists(_.getAs[Long]("doc_id") == delId),
      "after the retry the doc must leave lexical, dense, and fused")
    // ... and equals the never-ingested twin (both-committed state)
    val tTwin = Files.createTempDirectory("graft-hyb-skew-tt").toString
    val vTwin = Files.createTempDirectory("graft-hyb-skew-vt").toString
    TextIndex.build(docs.filter(col("doc_id") =!= delId), "text",
      "doc_id", nBuckets = 16).save(tTwin)
    IvfIndex.build(emb.filter(col("vec_id") =!= delId), "embedding",
      "vec_id", nCells = NCells).save(vTwin)
    val twin = HybridIndex.queryByIds(TextIndex.load(spark, tTwin),
      IvfIndex.load(spark, vTwin, "vec_id", "embedding"),
      docs, "text", ids, kBranch = 10, k = 10, nprobe = NCells)
    assert(rows(query()) == rows(twin))
    // unified maintenance (VERDICT r17 #2c): one call realizes the
    // delete physically on BOTH branches — the text side compacts its
    // segment, the vector side folds epochs
    val (textDid, ivfDid) = HybridIndex.compact(spark, tDir, vDir)
    assert(textDid, "a text index with unapplied deletes must compact")
    assert(ivfDid, "vector side must fold the tombstoned epochs")
    assert(textPostings(tDir).filter(col("doc_id") === delId).count() == 0L)
    assert(spark.read
      .parquet(s"${IvfIndex.baseRoot(vDir)}/cells")
      .filter(col("vec_id") === delId).count() == 0L)
    assert(rows(query()) == rows(twin),
      "answers must be unchanged through the unified compaction")
    // idempotent: nothing left to do on either side... except the
    // text side's grace-cycle epoch retire, which needs one more pass
    val (textAgain, ivfAgain) = HybridIndex.compact(spark, tDir, vDir)
    assert(!textAgain && !ivfAgain,
      "a second compact with no pending work must no-op")
    assert(rows(query()) == rows(twin))
  }

  test("hybrid query file-prunes BOTH persisted branches: the postings " +
      "scan carries a __bucket partition filter, the cells scan a " +
      "__cell one") {
    val df = HybridIndex.queryByIds(savedText, savedIvf,
      Tables.documents(spark, sf), "text", ids,
      kBranch = 10, k = 10, nprobe = 2)
    df.collect()
    val plan = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    val postings = plan.linesIterator.find(l =>
      l.contains("postings") && l.contains("PartitionFilters") &&
        l.contains("__bucket"))
    assert(postings.isDefined,
      s"no bucket-pruned postings scan in:\n$plan")
    val cells = plan.linesIterator.find(l =>
      l.contains("cells") && l.contains("PartitionFilters") &&
        l.contains("__cell"))
    assert(cells.isDefined, s"no cell-pruned cells scan in:\n$plan")
  }

  // ── driver-resolved request relations ──────────────────────────────

  test("search plans are request-independent: two queryByIds calls with " +
      "different ids compile the same whole-stage code, carry no " +
      "query-id literal, and run a pinned number of jobs") {
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeLike}
    val docs = Tables.documents(spark, sf)
    val jobs = new AtomicInteger()
    val markers = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("hyb-marker")) match {
            case Some(m) => markers.put(m)
            case None    => jobs.incrementAndGet()
          }
    }
    // a marker job's start is delivered after every earlier job start
    def drain(tag: String): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      var seen = markers.poll(60, TimeUnit.SECONDS)
      while (seen != null && seen != tag)
        seen = markers.poll(60, TimeUnit.SECONDS)
      assert(seen == tag, "listener bus did not deliver the marker")
    }
    def search(id: Long): (DataFrame, Int) = {
      drain(s"hyb-marker-$id-a")
      jobs.set(0)
      val df = HybridIndex.queryByIds(savedText, savedIvf, docs, "text",
        Seq(id), kBranch = 10, k = 10, nprobe = 2)
      df.collect()
      drain(s"hyb-marker-$id-b")
      (df, jobs.get())
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => q +: nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    def literals(df: DataFrame): Seq[Any] =
      nodes(df.queryExecution.executedPlan).flatMap(_.expressions)
        .flatMap(_.collect {
          case l: Literal => Seq(l.value)
          case s: InSet   => s.hset.toSeq
        }.flatten)
    // modulo the stage number: adaptive execution numbers stages in
    // creation order, which the two branch chains can race
    def stageCode(df: DataFrame): Set[String] =
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2
        .replaceAll("(CodegenStage|codegenStageId=)\\d+", "$1")).toSet
    spark.sparkContext.addSparkListener(listener)
    try {
      val (a, jobsA) = search(317L)
      val (b, jobsB) = search(442L)
      assert(rows(a).nonEmpty && rows(b).nonEmpty)
      assert(stageCode(a).nonEmpty && stageCode(a) == stageCode(b),
        "the two searches compiled different whole-stage code")
      for ((df, id) <- Seq((a, 317L), (b, 442L)))
        assert(!literals(df).exists(_ == id),
          s"query id $id is a literal of the executed plan")
      // every job of one search: the one request collect, then the
      // fused collect's two shuffle-map stages and its result stage
      assert(jobsA == 4 && jobsB == 4, s"jobs per search: $jobsA, $jobsB")
      for (df <- Seq(a, b)) {
        val plan = nodes(df.queryExecution.executedPlan)
        // request data is bound by reference: broadcasting a local
        // relation would run a job of its own
        assert(!plan.exists {
          case x: BroadcastExchangeLike =>
            x.exists(_.isInstanceOf[LocalTableScanExec])
          case _ => false
        }, "a local relation is broadcast into the search plan")
        // one shuffle per branch: the lexical repartition by query and
        // the dense top-k; the union and the fusion add none
        val shuffles = plan.collect { case x: ShuffleExchangeLike => x }
        assert(shuffles.length == 2,
          s"${shuffles.length} shuffle exchanges in one search")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a search plan does not grow with the layout: over 2 segments " +
      "and 2 epochs and over 6 and 6, each index side is one file scan " +
      "and both compile the same whole-stage code and answer the same") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val inBase = col("vec_id") % 7 === 0
    // one quantizer for both layouts: the same base, saved twice
    val base = IvfIndex.build(emb.filter(inBase), "embedding", "vec_id",
      nCells = NCells)
    def search(parts: Int): DataFrame = {
      val tDir = Files.createTempDirectory("graft-hyb-layout-t").toString
      val vDir = Files.createTempDirectory("graft-hyb-layout-v").toString
      base.save(vDir)
      (0 until parts).foreach { p =>
        TextIndex.appendSegment(docs.filter(col("doc_id") % parts === p),
          "text", "doc_id", tDir, s"s$p", nBuckets = 16)
        assert(IvfIndex.appendEpoch(spark, vDir,
          emb.filter(!inBase && col("vec_id") % parts === p), "embedding",
          "vec_id", s"e$p"))
      }
      val df = HybridIndex.queryByIds(TextIndex.load(spark, tDir),
        IvfIndex.load(spark, vDir, "vec_id", "embedding"), docs, "text",
        ids, kBranch = 10, k = 10, nprobe = 2)
      df.collect()
      df
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    def scans(df: DataFrame, root: String): Int =
      nodes(df.queryExecution.executedPlan).count {
        case s: FileSourceScanExec =>
          s.metadata.get("Location").exists(_.contains(root))
        case _ => false
      }
    def stageCode(df: DataFrame): Set[String] =
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2
        .replaceAll("(CodegenStage|codegenStageId=)\\d+", "$1")).toSet
    val (two, six) = (search(2), search(6))
    for (df <- Seq(two, six))
      assert(scans(df, "postings") == 1 && scans(df, "cells") == 1,
        s"scans per side: ${scans(df, "postings")} postings, " +
          s"${scans(df, "cells")} cells")
    assert(stageCode(two).nonEmpty && stageCode(two) == stageCode(six),
      "the 2- and 6-part layouts compiled different whole-stage code")
    assert(rows(two).nonEmpty && rows(two) == rows(six))
  }

  test("a query id absent from the corpus resolves to no request rows: " +
      "alone it answers nothing, beside a present id it leaves that " +
      "id's answer unchanged") {
    val docs = Tables.documents(spark, sf)
    def run(qs: Seq[Long]) = rows(HybridIndex.queryByIds(savedText,
      savedIvf, docs, "text", qs, kBranch = 10, k = 10, nprobe = NCells))
    assert(run(Seq(987654L)).isEmpty)
    assert(run(Seq(3L, 987654L)) == run(Seq(3L)))
    assert(run(Seq(3L)).nonEmpty)
  }

  test("a query doc whose text yields no tokens fuses its dense hits " +
      "alone: every row dense-only, in the dense branch's order") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val q = 3L
    val blanked = Tables.documents(spark, sf).withColumn("text",
      when(col("doc_id") === q, lit("  ")).otherwise(col("text")))
    val out = HybridIndex.queryByIds(savedText, savedIvf, blanked, "text",
      Seq(q), kBranch = 10, k = 10, nprobe = NCells)
      .orderBy("rank").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("lex_rank"))))
    assert(out.map(_.getAs[Int]("vec_rank")).toSeq == (1 to out.length))
    val dense = savedIvf.queryByIds(Seq(q), k = 10, nprobe = NCells)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == dense)
  }

  test("HybridIndex.query over an EMPTY external query frame answers " +
      "nothing, with the fused schema") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val none = docs.filter(col("doc_id") < 0)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .select(col("doc_id").as("qid"), col("text").as("qtext"),
        col("embedding").as("qvec"))
    val out = HybridIndex.query(savedText, savedIvf, none, "qid", "qtext",
      "qvec", kBranch = 10, k = 10, nprobe = NCells)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq == Seq("query_id", "doc_id", "lex_rank",
      "vec_rank", "rrf_score", "rank"))
  }

  test("a plain TextIndex with committed deletes corrects df over the " +
      "driver-resolved vocabulary: a query batch sharing terms scores " +
      "exactly like a fresh build over the survivors") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val tDir = Files.createTempDirectory("graft-hyb-dfcorr").toString
    PlainTextLayout.write(docs, "text", "doc_id", tDir, nBuckets = 16)
    val dels = Seq(1L, 2L, 40L)
    TextIndex.delete(spark, tDir, dels.toDF("doc_id"), "doc_id", "td-1")
    val twinDir = Files.createTempDirectory("graft-hyb-dfcorr-t").toString
    TextIndex.build(docs.filter(!col("doc_id").isin(dels: _*)), "text",
      "doc_id", nBuckets = 16).save(twinDir)
    // queries share most of their vocabulary, so each shared term's
    // correction must count once, not once per query
    val qs = docs.filter(col("doc_id").isin(0L, 1L, 5L))
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    def answer(dir: String) = TextIndex.load(spark, dir)
      .query(qs, "qtext", "qid", k = 10)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val got = answer(tDir)
    assert(got.nonEmpty)
    assert(got == answer(twinDir))
  }
}

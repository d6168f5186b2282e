package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Generations, IvfIndex, Quality, Scale, SemanticStore,
  TextIndex}
import graft.streaming.Streaming

/** The commit protocol ([[Generations]]) on any Hadoop filesystem:
  * every versioned writer answers the same on a `graftfs:` root as on a
  * `file:` root, a commit whose rename fails leaves the previous state
  * readable, and every partitioned index write lands one file per
  * partition directory whatever the shuffle partitioning.
  */
class CommitProtocolSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  GraftFs.register(spark)

  private val words = Seq("spark", "window", "join", "merge", "sort",
    "batch", "stream", "index", "query", "vector", "delta", "lake", "table",
    "shuffle", "cache", "token", "score", "rank", "cell", "probe")

  // 200 documents of six words each and 200 seeded 8-dim embeddings
  private def corpus: DataFrame = (0L until 200L).map { i =>
    (i, (0 until 6).map(j =>
      words(((i * (j + 3) + j * j) % words.size).toInt)).mkString(" "))
  }.toDF("doc_id", "text")

  private def vectors: DataFrame = {
    val rng = new scala.util.Random(42)
    (0L until 200L).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }

  private def fileRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run `lifecycle` on a `file:` root and on a `graftfs:` root: the two
    * outcomes must be equal, and nothing may land in a relative
    * `graftfs:` directory (where `java.io.File` would put it). */
  private def sameOnBothSchemes[T](name: String)(lifecycle: String => T): T = {
    val onFile = lifecycle(fileRoot(s"graft-$name-file"))
    val onGraftFs = lifecycle(GraftFs.tempRoot(s"graft-$name-gfs"))
    assert(onGraftFs == onFile)
    assert(!new java.io.File("graftfs:").exists(),
      "lifecycle code wrote through java.io.File")
    onFile
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  private def textQueries: DataFrame = Seq(
    (1L, "spark window join"),
    (2L, "merge sort batch stream")
  ).toDF("query_id", "qtext")

  private def textAnswers(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.as[(Long, Long, Double, Int)].collect().toSet

  private def vecAnswers(df: DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().toSet

  private def cdc(rows: (Long, String, Long, Boolean)*): DataFrame =
    rows.toDF("k", "v", "seq", "del")

  // 12 unit vectors 0.3 rad apart on a circle: neighbours pair above
  // cos 0.9, so the store holds chained components
  private def storeFixture(ids: Seq[Long]): (DataFrame, DataFrame) = {
    val docs = ids.map(i => (i, i * 7 % 11)).toDF("doc_id", "q")
    val emb = ids.map(i => (i, Array(math.cos(i * 0.3).toFloat,
      math.sin(i * 0.3).toFloat, 0f, 0f))).toDF("doc_id", "embedding")
    (docs, emb)
  }

  private def ingest(store: String, ids: Seq[Long], epoch: String): Unit = {
    val (docs, emb) = storeFixture(ids)
    SemanticStore.ingestOnly(store, docs, emb, "doc_id", "q", "embedding",
      minCosine = 0.9, nCells = 2, epochName = epoch)
  }

  private def storeState(store: String): Seq[(Long, Long, Long, Int)] =
    SemanticStore.snapshot(spark, store, "doc_id", "q")
      .select("doc_id", "component", "q", "keep")
      .as[(Long, Long, Long, Int)].collect().toSeq.sorted

  test("write-audit-publish, compaction and retention answer the same " +
      "on any Hadoop filesystem") {
    val rules = Seq(Quality.Complete("v", 1.0),
      Quality.InRange("v", 0.0, 100.0, 1.0))
    sameOnBothSchemes("wap") { root =>
      val base = s"$root/table"
      assert(Scale.writeAuditPublish(Seq((1L, 10.0), (2L, 20.0))
        .toDF("id", "v"), base, "v1", rules))
      assert(!Scale.writeAuditPublish(Seq((3L, 500.0)).toDF("id", "v"),
        base, "v2", rules))
      assert(Scale.writeAuditPublish(Seq((4L, 40.0)).toDF("id", "v"),
        base, "v3", rules))
      assert(Scale.compactPublished(spark, base, "v4", 1L << 20, rules))
      val swept = Scale.retainVersions(base, keep = 1).toSet
      (Generations.currentName(base), swept, Generations.dirNames(base),
        Scale.readPublished(spark, base).as[(Long, Double)].collect().toSet)
    }
  }

  test("mergeBatch generations answer the same on any Hadoop filesystem") {
    val state = sameOnBothSchemes("merge") { root =>
      val target = s"$root/target"
      Streaming.mergeBatch(
        cdc((1L to 32L).map(k => (k, s"v$k", 1L, false)): _*), 0L,
        Seq("k"), "seq", Some("del"), target, nBuckets = 4,
        retainGenerations = 1)
      Streaming.mergeBatch(cdc((1L, "v1b", 2L, false), (2L, "x", 2L, true)),
        1L, Seq("k"), "seq", Some("del"), target, nBuckets = 4,
        retainGenerations = 1)
      (Generations.currentName(target), Generations.dirNames(target),
        Generations.readText(s"$target/_NBUCKETS"),
        Streaming.readMergeTarget(spark, target).select("k", "v")
          .as[(Long, String)].collect().toSet)
    }
    assert(state._4.size == 31 && state._4((1L, "v1b")))
  }

  test("TextIndex append, delete, compact and plain save answer the " +
      "same on any Hadoop filesystem") {
    val docs = corpus
    val (_, _, segmented, plain) = sameOnBothSchemes("text") { root =>
      val seg = s"$root/seg"
      assert(TextIndex.appendSegment(docs.filter(col("doc_id") % 2 === 0),
        "text", "doc_id", seg, "s1", nBuckets = 8))
      assert(TextIndex.appendSegment(docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", seg, "s2", nBuckets = 8))
      TextIndex.delete(spark, seg, Seq(1L, 2L).toDF("doc_id"), "doc_id", "d1")
      val before = textAnswers(TextIndex.loadSegments(spark, seg)
        .query(textQueries, "qtext", "query_id", k = 5))
      assert(TextIndex.compactSegments(spark, seg))
      val segmented = textAnswers(TextIndex.loadSegments(spark, seg)
        .query(textQueries, "qtext", "query_id", k = 5))
      assert(segmented == before)
      // a saved index and a plain layout (as older releases saved it)
      // take the same delete and compaction
      val saved = s"$root/saved"
      TextIndex.build(docs, "text", "doc_id", nBuckets = 8).save(saved)
      val pl = s"$root/plain"
      PlainTextLayout.write(docs, "text", "doc_id", pl, nBuckets = 8)
      for (dir <- Seq(saved, pl)) {
        TextIndex.delete(spark, dir, Seq(1L, 2L).toDF("doc_id"), "doc_id",
          "d1")
        assert(TextIndex.compactSegments(spark, dir))
      }
      assert(textAnswers(TextIndex.load(spark, saved)
        .query(textQueries, "qtext", "query_id", k = 5)) == segmented)
      (Generations.currentName(seg), Generations.currentName(pl), segmented,
        textAnswers(TextIndex.load(spark, pl)
          .query(textQueries, "qtext", "query_id", k = 5)))
    }
    assert(segmented.nonEmpty && segmented == plain)
  }

  test("IvfIndex appendEpoch, delete and compactEpochs answer the same " +
      "on any Hadoop filesystem") {
    val emb = vectors
    val (_, exact, pq) = sameOnBothSchemes("ivf") { root =>
      val dir = s"$root/ivf"
      IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
        "vec_id", nCells = 8).save(dir)
      IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding", m = 4,
        kCode = 8)
      assert(IvfIndex.appendEpoch(spark, dir,
        emb.filter(col("vec_id") % 2 === 1), "embedding", "vec_id", "e1"))
      IvfIndex.delete(spark, dir, Seq(3L, 4L).toDF("vec_id"), "vec_id", "t1")
      assert(IvfIndex.compactEpochs(spark, dir))
      val q = Seq(0L, 1L, 5L)
      (Generations.currentName(dir),
        vecAnswers(IvfIndex.load(spark, dir, "vec_id", "embedding")
          .queryByIds(q, k = 5, nprobe = 3)),
        vecAnswers(IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
          .queryByIds(q, k = 5, nprobe = 3)))
    }
    assert(exact.nonEmpty && pq.nonEmpty &&
      !exact.exists(r => r._2 == 3L || r._2 == 4L))
  }

  test("SemanticStore ingest, delete and compact answer the same on any " +
      "Hadoop filesystem") {
    val state = sameOnBothSchemes("semstore") { root =>
      val store = s"$root/store"
      ingest(store, 1L to 6L, "s1")
      ingest(store, 7L to 12L, "s2")
      val (_, del) = storeFixture(Seq(3L))
      SemanticStore.delete(store, del, "doc_id", "d1")
      val before = storeState(store)
      assert(SemanticStore.compact(spark, store))
      assert(storeState(store) == before)
      (SemanticStore.committedEpochs(spark, store), before)
    }
    assert(state._2.map(_._1) == (1L to 12L).filter(_ != 3L))
  }

  test("a publish whose pointer rename fails leaves the previous " +
      "generation published and readable") {
    val base = s"${GraftFs.tempRoot("graft-torn-wap")}/table"
    val rules = Seq(Quality.Complete("v", 1.0))
    assert(Scale.writeAuditPublish(Seq((1L, 1.0)).toDF("id", "v"), base,
      "v1", rules))
    intercept[java.io.IOException] {
      GraftFs.failingRenameTo("_CURRENT") {
        Scale.writeAuditPublish(Seq((2L, 2.0)).toDF("id", "v"), base, "v2",
          rules)
      }
    }
    assert(Generations.currentName(base).contains("v1"))
    assert(Scale.readPublished(spark, base).as[(Long, Double)].collect()
      .toSeq == Seq((1L, 1.0)))

    // an index compaction torn at its flip: the epoch rows stay visible
    // exactly once, and the retry restages and publishes
    val emb = vectors
    val dir = s"${GraftFs.tempRoot("graft-torn-ivf")}/ivf"
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", nCells = 4).save(dir)
    assert(IvfIndex.appendEpoch(spark, dir,
      emb.filter(col("vec_id") % 2 === 1), "embedding", "vec_id", "e1"))
    def answers = vecAnswers(IvfIndex.load(spark, dir, "vec_id", "embedding")
      .queryByIds(Seq(0L, 1L), k = 5, nprobe = 4))
    val before = answers
    intercept[java.io.IOException] {
      GraftFs.failingRenameTo("_CURRENT")(IvfIndex.compactEpochs(spark, dir))
    }
    assert(Generations.currentName(dir).isEmpty)
    assert(IvfIndex.cellsWithEpochs(spark, dir).count() == emb.count())
    assert(answers == before)
    assert(IvfIndex.compactEpochs(spark, dir))
    assert(Generations.currentName(dir).contains("gen-1"))
    assert(IvfIndex.cellsWithEpochs(spark, dir).count() == emb.count())
    assert(answers == before)
  }

  test("a compaction whose marker rename fails commits no marker and " +
      "counts no row twice; the retry commits") {
    val store = s"${GraftFs.tempRoot("graft-torn-sem")}/store"
    ingest(store, 1L to 6L, "s1")
    ingest(store, 7L to 12L, "s2")
    val before = storeState(store)
    intercept[java.io.IOException] {
      GraftFs.failingRenameTo("compact-1")(SemanticStore.compact(spark, store))
    }
    assert(!Generations.exists(s"$store/_epochs/compact-1"))
    assert(SemanticStore.committedEpochs(spark, store) == Seq("s1", "s2"))
    assert(storeState(store) == before && before.size == 12)
    assert(SemanticStore.compact(spark, store))
    assert(SemanticStore.committedEpochs(spark, store) == Seq("compact-1"))
    assert(storeState(store) == before)
  }

  test("every partitioned index write lands ONE file per partition " +
      "directory, whatever the shuffle partitioning") {
    val docs = corpus
    val emb = vectors
    def oneFileEach(dir: String): Unit = {
      val files = Generations.dirNames(dir).map(d =>
        Generations.list(s"$dir/$d").count(_.getPath.getName.startsWith("part-")))
      assert(files.nonEmpty && files.forall(_ == 1),
        s"$dir: files per partition dir $files")
    }
    val ivf = fileRoot("graft-clustered-ivf")
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", nCells = 4).save(ivf)
    IvfIndex.addPqCodes(spark, ivf, "vec_id", "embedding", m = 4, kCode = 8)
    for (parts <- Seq("4", "200"))
      withConf("spark.sql.shuffle.partitions" -> parts,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val text = fileRoot("graft-clustered-text")
        assert(TextIndex.appendSegment(docs, "text", "doc_id", text, "s1",
          nBuckets = 8))
        oneFileEach(s"$text/segments/s1/postings")
        val epoch = s"e$parts"
        assert(IvfIndex.appendEpoch(spark, ivf,
          emb.filter(col("vec_id") % 2 === 1).repartition(3), "embedding",
          "vec_id", epoch))
        oneFileEach(s"$ivf/epochs/$epoch/cells")
        oneFileEach(s"$ivf/epochs/$epoch/codes")
        val target = fileRoot("graft-clustered-merge")
        Streaming.mergeBatch(
          cdc((1L to 64L).map(k => (k, s"v$k", 1L, false)): _*)
            .repartition(3), 0L, Seq("k"), "seq", Some("del"), target,
          nBuckets = 4)
        oneFileEach(s"$target/gen-0")
      }
  }

  test("an IVF-PQ search resolves its layout once: the claimed epochs " +
      "and the tombstones are listed once per queryByIds") {
    val emb = vectors
    val dir = s"${GraftFs.tempRoot("graft-pq-snap")}/ivf"
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "embedding",
      "vec_id", nCells = 4).save(dir)
    IvfIndex.addPqCodes(spark, dir, "vec_id", "embedding", m = 4, kCode = 8)
    assert(IvfIndex.appendEpoch(spark, dir,
      emb.filter(col("vec_id") % 2 === 1), "embedding", "vec_id", "e1"))
    IvfIndex.delete(spark, dir, Seq(3L, 4L).toDF("vec_id"), "vec_id", "t1")
    val pq = IvfIndex.loadPq(spark, dir, "vec_id", "embedding")
    val q = Seq(0L, 1L, 5L)
    def search() = pq.queryByIds(q, k = 5, nprobe = 4)
    val (_, epochLists) = GraftFs.listings("epochs")(search())
    val (_, tombLists) = GraftFs.listings("_tombstones")(search())
    assert(epochLists == 1 && tombLists == 1,
      s"epochs/ listed $epochLists times, _tombstones/ $tombLists times")
    val got = vecAnswers(search())
    val viaQuery = vecAnswers(pq.query(IvfIndex.cellsWithEpochs(spark, dir)
      .filter(col("vec_id").isin(q: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q")),
      k = 5, nprobe = 4, refineFactor = 8))
    assert(got.nonEmpty && got == viaQuery)
    assert(got.map(_._1) == q.toSet && !got.exists(r => r._2 == 3L || r._2 == 4L))
  }

  test("a text load and an IVF-PQ load list each segment and epoch root " +
      "once, and answer the same on any scheme") {
    def pathOf(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
    sameOnBothSchemes("layout-list") { root =>
      val text = s"$root/text"
      (0 until 3).foreach(s => TextIndex.appendSegment(
        corpus.filter(col("doc_id") % 3 === s), "text", "doc_id", text,
        s"s$s", nBuckets = 8))
      TextIndex.delete(spark, text, Seq(3L, 4L).toDF("doc_id"), "doc_id", "d1")
      val ivf = s"$root/ivf"
      IvfIndex.build(vectors.filter(col("vec_id") % 3 === 0), "embedding",
        "vec_id", nCells = 4).save(ivf)
      IvfIndex.addPqCodes(spark, ivf, "vec_id", "embedding", m = 4, kCode = 8)
      (1 to 2).foreach(e => assert(IvfIndex.appendEpoch(spark, ivf,
        vectors.filter(col("vec_id") % 3 === e), "embedding", "vec_id",
        s"e$e")))
      IvfIndex.delete(spark, ivf, Seq(3L, 4L).toDF("vec_id"), "vec_id", "t1")
      val (idx, textLists) = GraftFs.listingsByPath(TextIndex.load(spark, text))
      val (pqSearch, pqLists) = GraftFs.listingsByPath(
        IvfIndex.loadPq(spark, ivf, "vec_id", "embedding")
          .queryByIds(Seq(0L, 1L, 5L), k = 5, nprobe = 4))
      if (root.startsWith("graftfs:")) {
        for (lists <- Seq(textLists, pqLists))
          assert(lists.nonEmpty && lists.values.forall(_ == 1),
            s"directories listed more than once: ${lists.filter(_._2 > 1)}")
        val segRoots = (0 until 3).flatMap(s =>
          Seq("postings", "stats").map(d => s"$text/segments/s$s/$d"))
        val epochRoots = Seq(ivf, s"$ivf/epochs/e1", s"$ivf/epochs/e2")
          .flatMap(r => Seq(s"$r/cells", s"$r/codes"))
        assert(segRoots.forall(r => textLists.contains(pathOf(r))) &&
          epochRoots.forall(r => pqLists.contains(pathOf(r))),
          s"unlisted roots: text $textLists, IVF-PQ $pqLists")
      }
      (idx.nDocs, textAnswers(idx.query(textQueries, "qtext", "query_id",
        k = 5)), vecAnswers(pqSearch))
    }
  }

  test("a text index load lists its delete markers once: the excluded " +
      "ids and the stats corrections come from one listing") {
    val plain = s"${GraftFs.tempRoot("graft-del-list")}/plain"
    PlainTextLayout.write(corpus, "text", "doc_id", plain, nBuckets = 8)
    val seg = s"${GraftFs.tempRoot("graft-del-list")}/seg"
    TextIndex.appendSegment(corpus, "text", "doc_id", seg, "a", nBuckets = 8)
    for (dir <- Seq(plain, seg)) {
      TextIndex.delete(spark, dir, Seq(3L, 4L).toDF("doc_id"), "doc_id", "d1")
      TextIndex.delete(spark, dir, Seq(5L).toDF("doc_id"), "doc_id", "d2")
    }
    val (p, plainLists) = GraftFs.listings("_deletes")(
      TextIndex.load(spark, plain))
    val (s, segLists) = GraftFs.listings("_deletes")(
      TextIndex.loadSegments(spark, seg))
    assert(plainLists == 1 && segLists == 1,
      s"_deletes listed $plainLists (plain) and $segLists (segmented) times")
    assert(p.nDocs == 197L && s.nDocs == 197L)
  }

  test("a layout write goes through Generations.LocalFs on the local " +
      "disk and leaves the files and modes the stock filesystem leaves") {
    import java.nio.file.{Path => JPath}
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    Generations.LayoutWrite.foreach { case (k, v) => conf.set(k, v) }
    assert(new org.apache.hadoop.fs.Path("file:///").getFileSystem(conf)
      .isInstanceOf[Generations.LocalFs])
    val df = corpus.withColumn("__bucket", ($"doc_id" % 4).cast("int"))
    val (stock, layout) = (fileRoot("graft-cp-stock"),
      fileRoot("graft-cp-local"))
    df.repartition($"__bucket").write.mode("overwrite")
      .partitionBy("__bucket").parquet(stock)
    Generations.writePartitioned(df, "__bucket", "overwrite", layout)
    // part-file names carry a per-write id: compare names without it
    def tree(root: String): Seq[(String, String)] = {
      val r = java.nio.file.Paths.get(root)
      Files.walk(r).iterator().asScala.filter(_ != r).map { (p: JPath) =>
        (r.relativize(p).toString.replaceAll("part-\\d+-[0-9a-f-]+", "part"),
          java.nio.file.attribute.PosixFilePermissions.toString(
            Files.getPosixFilePermissions(p)))
      }.toSeq.sorted
    }
    assert(tree(layout).nonEmpty && tree(layout) == tree(stock))
  }
}

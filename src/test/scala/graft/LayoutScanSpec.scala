package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Generations, IvfIndex, TextIndex}

/** The one layout reader ([[Generations.scan]]): a frame over files
  * listed on the driver reads what `spark.read` reads, prunes its
  * partitions, and a load over it runs the same jobs however many
  * segments or epochs the layout holds.
  */
class LayoutScanSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val threshold =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** True iff the session holds an explicit threshold setting
    * (`spark.conf.getOption` would answer the default). */
  private def thresholdSet: Boolean = spark.conf.getAll.contains(threshold)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Run `body`; also return the jobs it ran and the jobs that ran with
    * the partition-discovery threshold among their properties. */
  private def jobsOf[T](body: => T): (T, Int, Int) = {
    val jobs = new AtomicInteger()
    val underThreshold = new AtomicInteger()
    val markers = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("scan-marker")) match {
            case Some(m) => markers.put(m)
            case None =>
              jobs.incrementAndGet()
              if (props.exists(_.getProperty(threshold) != null))
                underThreshold.incrementAndGet()
          }
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
    spark.sparkContext.addSparkListener(listener)
    try {
      drain("scan-marker-a")
      jobs.set(0)
      val r = body
      drain("scan-marker-b")
      (r, jobs.get(), underThreshold.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s
    }
  }

  test("scan reads a layout as spark.read does: the same schema and " +
      "rows, one scan node over every root, partition filters prune " +
      "directories, and roots that disagree fail loudly") {
    val rows = (0 until 40).map(i =>
      (i.toLong, Array(i.toFloat, -i.toFloat), i % 4))
    val a = s"${tmp("graft-scan")}/a"
    val b = s"${tmp("graft-scan")}/b"
    Generations.writePartitioned(rows.take(25).toDF("id", "emb", "__cell"),
      "__cell", "errorifexists", a)
    Generations.writePartitioned(rows.drop(25).toDF("id", "emb", "__cell"),
      "__cell", "errorifexists", b)
    Generations.writeText(s"$a/_pqv", "stamp") // hidden, never read
    val one = Generations.scan(Seq(a), Some("__cell"))
    assert(one.schema == spark.read.parquet(a).schema)
    val both = Generations.scan(Seq(a, b), Some("__cell"))
    def ids(df: DataFrame): Seq[(Long, Int)] =
      df.select("id", "__cell").as[(Long, Int)].collect().toSeq.sorted
    assert(ids(both) == rows.map(r => (r._1, r._3)).sorted)
    val pruned = both.filter(col("__cell").isin(1, 2)).select("id", "__cell")
    // collected as rows: the scan metrics below are this plan's
    assert(pruned.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted ==
      rows.filter(r => r._3 == 1 || r._3 == 2).map(r => (r._1, r._3)).sorted)
    val scan = scans(pruned)
    assert(scan.length == 1)
    // two cells in each of the two roots: one file per directory
    assert(scan.head.metrics("numFiles").value == 4L)
    val stats = s"${tmp("graft-scan")}/stats"
    Seq((1L, "x")).toDF("n", "id_col").write.parquet(stats)
    assert(Generations.scan(Seq(stats)).schema ==
      spark.read.parquet(stats).schema)
    val other = s"${tmp("graft-scan")}/other"
    Seq((1L, 2L)).toDF("n", "id_col").write.parquet(other)
    val e = intercept[IllegalArgumentException](
      Generations.scan(Seq(stats, other)))
    assert(e.getMessage.contains("disagree"))
  }

  // 60 documents of 12 words over a 600-word vocabulary per segment:
  // every one of 64 term buckets holds postings in every segment
  private def segmentDocs(seg: Int): DataFrame =
    (0 until 60).map { d =>
      val id = seg * 1000L + d
      (id, (0 until 12).map(j =>
        s"w${(id * 31 + j * 97 + j * j) % 600}").mkString(" "))
    }.toDF("doc_id", "text")

  private def textLayout(segments: Int): String = {
    val dir = tmp("graft-scan-text")
    (0 until segments).foreach { s =>
      TextIndex.appendSegment(segmentDocs(s), "text", "doc_id", dir,
        s"s$s", nBuckets = 64)
      assert(Generations.dirNames(s"$dir/segments/s$s/postings")
        .count(_.startsWith("__bucket=")) == 64)
    }
    TextIndex.delete(spark, dir, Seq(1L, 1001L).toDF("doc_id"), "doc_id",
      "d1")
    dir
  }

  test("a text load runs the same jobs over 2 and 6 segments of 64 " +
      "buckets with a committed delete, at most 2, and never sets the " +
      "partition-discovery threshold") {
    val (twoDir, sixDir) = (textLayout(2), textLayout(6))
    val (two, jobsTwo, setTwo) = jobsOf(TextIndex.load(spark, twoDir))
    val (six, jobsSix, setSix) = jobsOf(TextIndex.load(spark, sixDir))
    assert(two.nDocs == 118L && six.nDocs == 358L)
    assert(jobsTwo == jobsSix && jobsSix <= 2,
      s"text load jobs: $jobsTwo at 2 segments, $jobsSix at 6")
    assert(setTwo == 0 && setSix == 0 && !thresholdSet)
  }

  private def vectors(from: Long, n: Int): DataFrame = {
    val rng = new scala.util.Random(from)
    (from until from + n).map(i =>
      (i, Array.fill(8)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
  }

  private def ivfLayout(epochs: Int): String = {
    val dir = tmp("graft-scan-ivf")
    IvfIndex.build(vectors(0L, 640), "embedding", "vec_id", nCells = 64)
      .save(dir)
    (1 to epochs).foreach(e => assert(IvfIndex.appendEpoch(spark, dir,
      vectors(e * 1000L, 64), "embedding", "vec_id", s"e$e")))
    IvfIndex.delete(spark, dir, Seq(3L, 1003L).toDF("vec_id"), "vec_id", "t1")
    dir
  }

  test("an IVF load of a 64-cell index runs the same jobs with 1 and " +
      "with 5 epochs and a tombstone, at most 2, and never sets the " +
      "partition-discovery threshold") {
    val (oneDir, fiveDir) = (ivfLayout(1), ivfLayout(5))
    val (one, jobsOne, setOne) = jobsOf(
      IvfIndex.load(spark, oneDir, "vec_id", "embedding"))
    val (five, jobsFive, setFive) = jobsOf(
      IvfIndex.load(spark, fiveDir, "vec_id", "embedding"))
    assert(one.treeQuantizer.isDefined && five.treeQuantizer.isDefined)
    assert(jobsOne == jobsFive && jobsFive <= 2,
      s"IVF load jobs: $jobsOne with 1 epoch, $jobsFive with 5")
    assert(setOne == 0 && setFive == 0 && !thresholdSet)
    // one scan node over base and epochs, the tombstones excluded
    for ((dir, epochs) <- Seq((oneDir, 1), (fiveDir, 5))) {
      val corpus = IvfIndex.cellsWithEpochs(spark, dir)
      assert(corpus.count() == 640L + epochs * 64L - 2L)
      val cellScans = scans(corpus)
        .map(_.relation.location.rootPaths.map(_.getName))
        .filter(_.contains("cells"))
      assert(cellScans == Seq(Seq.fill(1 + epochs)("cells")), cellScans)
    }
  }
}

package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Bm25Queryable, HybridIndex, IvfIndex, Jobs, MLPipe,
  Scoring, SegmentedTextIndex, Tables, TextIndex}

/** The library calls the `perfbench` harness compiles against
  * (`perfbench/src/main/scala/perfbench/Serve.scala`), written with the
  * argument forms and result types it uses. A rename or a signature
  * change fails `Test/compile` here rather than a benchmark run.
  * Nothing is executed. */
class BenchmarkApiSpec extends AnyFunSuite {

  /** Never called: it only has to type-check. */
  private def serveShapes(spark: SparkSession, docs: DataFrame, path: String,
      q: DataFrame): Unit = {
    val trainJob: String = Jobs.submitTrain(docs, Seq("x"),
      "logistic_regression", "classification", path)
    val modelPath: Option[String] = Jobs.jobStatus(trainJob).flatMap(_.modelPath)
    val trainError: Option[String] = Jobs.jobStatus(trainJob).flatMap(_.error)
    val corpus: DataFrame = Tables.documents(spark, path)
    val vectors: DataFrame = Tables.embeddings(spark, path)
    val lineitem: DataFrame = Tables.lineitem(spark, path)
    val appended: Boolean = TextIndex.appendSegment(docs, "text", "doc_id",
      path, "base", nBuckets = 16)
    val text: SegmentedTextIndex = TextIndex.loadSegments(spark, path)
    val saved: Unit = TextIndex.build(docs, "text", "doc_id", nBuckets = 16)
      .save(path)
    val loaded: Bm25Queryable = TextIndex.load(spark, path)
    val vecBuilt: Unit = IvfIndex.build(docs, "embedding", "doc_id",
      nCells = 16).save(path)
    val ivf: IvfIndex = IvfIndex.load(spark, path, "doc_id", "embedding")
    val epoch: Boolean = IvfIndex.appendEpoch(spark, path, docs, "embedding",
      "doc_id", "ingest-0001")
    val hybrid: DataFrame = HybridIndex.queryByIds(text, ivf, docs, "text",
      Seq(1L), k = 10)
    val exhaustive: DataFrame = HybridIndex.queryByIds(loaded, ivf, docs,
      "text", Seq(1L), k = 10, nprobe = 16)
    val lex: DataFrame = text.query(q, "__qtext", "query_id", 21)
    val dense: DataFrame = ivf.queryByIds(Seq(1L), 20, 4)
    val scored: Seq[Double] = Scoring.predictRows(spark, path, Seq("x"),
      Seq(Seq(1.0)))
    val model: PipelineModel = MLPipe.loadModel(path)
    val predicted: DataFrame = MLPipe.predict(model, docs)
    val server = new graft.serving.ApiServer(spark, path)
    val port: Int = server.boundPort
    val layoutRoot: Option[String] = graft.engine.Generations.currentName(path)
    server.start()
    server.stop()
  }

  test("the benchmark harness's library calls type-check") {
    assert(serveShapes _ != null)
  }
}

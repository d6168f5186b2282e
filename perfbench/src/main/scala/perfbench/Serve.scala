package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{HybridIndex, IvfIndex, Jobs, MLPipe, Scoring, TextIndex}

/** serve_mixed: one long-lived session answering a seeded stream of
  * requests from one closed-loop client — hybrid search over the
  * persisted text and vector indexes, single-row predictions over HTTP,
  * and 50-row ingests that append to both indexes and reload them (a
  * write counts as done once it is readable). No compaction runs.
  */
object Serve {

  val BaseIds = 1000L      // ids below: indexed at setup
  val CorpusIds = 2000L    // ids in [BaseIds, CorpusIds): the ingest pool
  val BatchRows = 50
  val NCells = 16
  val NBuckets = 16
  val K = 10
  val FeatureCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The corpus: documents that also have an embedding, under one id. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Tables.documents(spark, dir).select("doc_id", "text")
      .join(graft.engine.Tables.embeddings(spark, dir)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")

  def trainingRows(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(100)) === 0)
      .select((FeatureCols.map(col) :+
        (col("l_returnflag") === "R").cast(DoubleType).as("label")): _*)

  /** Everything setup builds; `stop` releases the server. */
  final class State(val spark: SparkSession, val root: String,
      val modelPath: String, val server: graft.serving.ApiServer,
      val trainS: Double, val indexS: Double) {
    val textPath = s"$root/text"
    val ivfPath = s"$root/ivf"
    var text: graft.engine.SegmentedTextIndex = TextIndex.loadSegments(spark, textPath)
    var ivf: IvfIndex = IvfIndex.load(spark, ivfPath, "doc_id", "embedding")
    def reload(): Unit = {
      text = TextIndex.loadSegments(spark, textPath)
      ivf = IvfIndex.load(spark, ivfPath, "doc_id", "embedding")
    }
    def stop(): Unit = server.stop()
    /** Parquet files opened by traced searches. */
    var filesRead = 0L
  }

  /** Train the model, bootstrap both indexes over the base ids, start the
    * HTTP server. */
  def setup(spark: SparkSession, dir: String, root: String): State = {
    val t0 = System.nanoTime()
    val job = Jobs.submitTrain(trainingRows(spark, dir), FeatureCols,
      "logistic_regression", "classification", s"$root/models")
    val modelPath = Jobs.jobStatus(job).flatMap(_.modelPath).getOrElse(
      sys.error(s"training failed: ${Jobs.jobStatus(job).flatMap(_.error)}"))
    val t1 = System.nanoTime()
    val base = corpus(spark, dir).filter(col("doc_id") < BaseIds)
    TextIndex.appendSegment(base, "text", "doc_id", s"$root/text", "base",
      nBuckets = NBuckets)
    IvfIndex.build(base.select("doc_id", "embedding"), "embedding", "doc_id",
      nCells = NCells).save(s"$root/ivf")
    val server = new graft.serving.ApiServer(spark, s"$root/models")
    server.start()
    new State(spark, root, modelPath, server, (t1 - t0) / 1e9,
      (System.nanoTime() - t1) / 1e9)
  }

  final case class Op(kind: String, latencyNs: Long, error: Option[String],
      segments: Int)
  final case class Block(wallNs: Long, ops: Seq[Op], traced: Boolean)

  /** The closed-loop client: a priming search and prediction (JIT,
    * generated code), then blocks of requests until `seconds` have
    * elapsed, at least `minBlocks`. A block runs its reads in seeded
    * order, then its ingests, so every read in a block sees the same
    * layout and every block after the first reads what the one before it
    * wrote. The first returned block is the priming one. */
  def run(st: State, dir: String, seed: Long, seconds: Int, trace: Trace,
      block: Seq[String], minBlocks: Int, traced: Int => Boolean,
      onBlock: Block => Unit): Seq[Block] = {
    val spark = st.spark
    val docs = graft.engine.Tables.documents(spark, dir)
    val pool = corpus(spark, dir)
      .filter(col("doc_id") >= BaseIds && col("doc_id") < CorpusIds)
      .orderBy("doc_id").collect().toSeq
    val schema = pool.head.schema
    val batches = pool.grouped(BatchRows).toIndexedSeq
    val features: IndexedSeq[Seq[Double]] = trainingRows(spark, dir)
      .orderBy(FeatureCols.map(col): _*).limit(500).collect().toIndexedSeq
      .map(r => FeatureCols.indices.map(r.getDouble))
    val model = MLPipe.loadModel(st.modelPath)
    val client = HttpClient.newHttpClient()
    val mapper = new ObjectMapper()
    val rng = new scala.util.Random(seed)
    val indexed = mutable.ArrayBuffer.range(0L, BaseIds)
    var ingested = 0

    def search(id: Long): Option[String] = {
      val df = HybridIndex.queryByIds(st.text, st.ivf, docs, "text", Seq(id),
        k = K)
      val rows = trace.span("search", "index")(df.collect())
      if (trace.active) st.filesRead += Trace.scanFiles(df.queryExecution.executedPlan)
      checkSearch(id, rows)
    }
    def predict(x: Seq[Double]): Option[String] = {
      val body = mapper.writeValueAsString(java.util.Map.of(
        "model_path", st.modelPath,
        "features", java.util.List.of(java.util.List.of(x.map(Double.box): _*)),
        "feature_names", java.util.List.of(FeatureCols: _*)))
      val resp = trace.span("predict", "serving") {
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${st.server.boundPort}/predict"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      if (resp.statusCode != 200) Some(s"predict: HTTP ${resp.statusCode}")
      else {
        val got = mapper.readTree(resp.body).get("predictions").get(0).asDouble
        val want = expected(spark, model, x)
        if (got != want) Some(s"predict: $got, in-process $want") else None
      }
    }
    def ingest(b: Int): Option[String] = {
      val batch = spark.createDataFrame(
        java.util.Arrays.asList(batches(b): _*), schema)
      val name = f"ingest-$b%04d"
      trace.span("ingest", "index") {
        val textOk = trace.span("append_text", "index") {
          TextIndex.appendSegment(batch, "text", "doc_id", st.textPath, name,
            nBuckets = NBuckets)
        }
        val vecOk = trace.span("append_vec", "index") {
          IvfIndex.appendEpoch(spark, st.ivfPath,
            batch.select("doc_id", "embedding"), "embedding", "doc_id", name)
        }
        trace.span("reload", "index")(st.reload())
        if (textOk && vecOk) None else Some(s"ingest $name: append refused")
      }
    }

    def op(kind0: String, on: Boolean): Op = {
      val kind = if (kind0 == "ingest" && ingested == batches.length) "search"
        else kind0
      val id = indexed(rng.nextInt(indexed.length))
      val x = features(rng.nextInt(features.length))
      val t0 = System.nanoTime()
      val err =
        try kind match {
          case "search" => search(id)
          case "predict" => predict(x)
          case "ingest" =>
            val e = ingest(ingested)
            indexed ++= batches(ingested).map(_.getLong(0))
            ingested += 1
            e
        } catch {
          case ex: Exception => Some(s"$kind: ${ex.getClass.getSimpleName}: " +
            s"${ex.getMessage}".take(300))
        }
      val t1 = System.nanoTime()
      if (on && err.isEmpty && kind != "ingest")
        layerProbe(st, docs, kind, id, x, trace)
      Op(kind, t1 - t0, err, 1 + ingested)
    }
    def runBlock(b: Int): Block = {
      val on = traced(b)
      val (writes, reads) = block.partition(_ == "ingest")
      val kinds = rng.shuffle(reads) ++ writes
      val ops = mutable.ArrayBuffer.empty[Op]
      var wall = 0L
      for (k <- kinds) {
        if (on) trace.start()
        val o = op(k, on)
        if (on) trace.stop()
        ops += o
        wall += o.latencyNs
      }
      val done = Block(wall, ops.toSeq, on)
      onBlock(done)
      done
    }
    val prime = Block(0L, Seq(op("search", false), op("predict", false)), false)
    val blocks = mutable.ArrayBuffer(prime)
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (blocks.length <= minBlocks || System.nanoTime() < deadline)
      blocks += runBlock(blocks.length)
    blocks.toSeq
  }

  private def checkSearch(id: Long, rows: Array[Row]): Option[String] = {
    val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
    if (rows.isEmpty || rows.length > K) Some(s"search $id: ${rows.length} rows")
    else if (ranks != (1 to rows.length)) Some(s"search $id: ranks $ranks")
    else if (rows.exists(r => r.getAs[Long]("query_id") != id ||
        r.getAs[Long]("doc_id") == id)) Some(s"search $id: foreign or self row")
    else None
  }

  private def expected(spark: SparkSession, model: PipelineModel,
      x: Seq[Double]): Double = {
    val schema = StructType(FeatureCols.map(StructField(_, DoubleType, false)))
    MLPipe.predict(model, spark.createDataFrame(
        java.util.List.of(Row(x: _*)), schema))
      .select("prediction").head().getDouble(0)
  }

  /** Per-layer split of one request, measured right after it (traced runs
    * only): each search branch alone, and scoring without HTTP. */
  private def layerProbe(st: State, docs: DataFrame, kind: String, id: Long,
      x: Seq[Double], trace: Trace): Unit = {
    if (kind == "search") {
      val q = docs.filter(col("doc_id") === id)
        .select(col("doc_id").as("query_id"), col("text").as("__qtext"))
      trace.span("lex", "index")(st.text.query(q, "__qtext", "query_id", 21)
        .collect())
      trace.span("dense", "index")(st.ivf.queryByIds(Seq(id), 20, 4).collect())
    } else {
      trace.span("score", "serving")(Scoring.predictRows(st.spark,
        st.modelPath, FeatureCols, Seq(x)))
    }
  }

  /** The probe set: a base document and the first ingested one. */
  val Probes = Seq(777L, BaseIds)

  private def answers(spark: SparkSession, dir: String,
      t: graft.engine.Bm25Queryable, v: IvfIndex, id: Long): Seq[String] =
    HybridIndex.queryByIds(t, v, graft.engine.Tables.documents(spark, dir),
      "text", Seq(id), k = K, nprobe = NCells)
      .orderBy("rank").collect().map(_.toString).toSeq

  /** Answers on the probe set of a twin batch-built over the base ids and
    * the first `ingested` batches, probed exhaustively. */
  def twinAnswers(spark: SparkSession, dir: String, twinRoot: String,
      ingested: Int): Map[Long, Seq[String]] = {
    // batches are consecutive id ranges of the pool, appended in order
    val now = corpus(spark, dir)
      .filter(col("doc_id") < BaseIds + ingested * BatchRows)
    TextIndex.build(now, "text", "doc_id", nBuckets = NBuckets)
      .save(s"$twinRoot/text")
    IvfIndex.build(now.select("doc_id", "embedding"), "embedding", "doc_id",
      nCells = NCells).save(s"$twinRoot/ivf")
    val t = TextIndex.load(spark, s"$twinRoot/text")
    val v = IvfIndex.load(spark, s"$twinRoot/ivf", "doc_id", "embedding")
    Probes.filter(_ < BaseIds + ingested * BatchRows)
      .map(id => id -> answers(spark, dir, t, v, id)).toMap
  }

  /** Answers of the live indexes on the probe set, probed exhaustively,
    * against the twin's (`recorded`, or built now when none was recorded
    * for this many ingests). Returns the probe count and one error per
    * disagreeing probe. */
  def verify(st: State, dir: String, twinRoot: String, ingested: Int,
      recorded: Map[Int, Map[Long, Seq[String]]]): (Int, Seq[String]) = {
    val want = recorded.getOrElse(ingested,
      twinAnswers(st.spark, dir, twinRoot, ingested))
    val errs = want.toSeq.sortBy(_._1).flatMap { case (id, b) =>
      val a = answers(st.spark, dir, st.text, st.ivf, id)
      if (a == b) None
      else Some(s"probe $id: live ${a.mkString} twin ${b.mkString}")
    }
    (want.size, errs)
  }

  /** Live text segments and vector epochs under the indexes. */
  def layout(st: State): (Int, Int) = {
    def dirs(p: String) = Option(new java.io.File(p).listFiles())
      .getOrElse(Array.empty).count(_.isDirectory)
    val segRoot = graft.engine.Generations.currentName(st.textPath)
      .getOrElse("segments")
    (dirs(s"${st.textPath}/$segRoot"), dirs(s"${st.ivfPath}/epochs"))
  }
}

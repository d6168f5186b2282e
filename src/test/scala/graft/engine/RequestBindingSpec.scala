package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The search paths that bind request data by reference — the term →
  * query-ids table of the BM25 branch, the cell → query-slots batch of
  * the IVF and IVF-PQ scans, the one-request-collect hybrid — against
  * the formulation they replaced, kept below as the reference: request
  * rows collected and re-entered as local relations, joined onto the
  * pruned scans, `df` counted per term (stored per posting on the plain
  * layout older releases saved). Same rows, same double BITS, on
  * both text layouts with and without deletes, flat and tree
  * quantizers, and a query batch with shared terms, a duplicated id,
  * an absent id, an empty text and a zero vector. */
class RequestBindingSpec extends AnyFunSuite {
  import TestSpark.spark

  // ── the local-relation reference formulation ───────────────────────

  private def bindLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def refVocabulary(queries: DataFrame, textCol: String,
      qidCol: String, nBuckets: Int): (DataFrame, DataFrame, Seq[Int]) = {
    val tokenized = queries
      .select(col(qidCol), Extensions.tokens(col(textCol)))
    val pairs = tokenized.collect().toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else r.getSeq[String](1).filter(_ != "").map(t => Row(r.get(0), t))
    }.distinct
    val termField = StructField("term", StringType, nullable = false)
    val terms = spark.createDataFrame(
      java.util.Arrays.asList(pairs.map(_.getString(1)).distinct
        .map(Row(_)): _*), StructType(Seq(termField)))
    val buckets = terms
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .collect().map(_.getInt(0)).distinct.sorted.toSeq
    (spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
        StructType(Seq(tokenized.schema.fields(0), termField))),
      terms, buckets)
  }

  private def refScores(text: Text, queries: DataFrame,
      textCol: String, qidCol: String): DataFrame = {
    val idx = text.idx
    val (pairs, terms, buckets) =
      refVocabulary(queries, textCol, qidCol, idx.nBuckets)
    val (nDocs, sumDl, idCol) = (idx.nDocs, idx.sumDl, idx.idCol)
    def idf(df: Column) = log(lit(1.0) +
      (lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)))
    val fTf = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) +
        (lit(0.75) * col("dl")) / lit(sumDl.toDouble / nDocs)))
    def pruned(p: DataFrame) =
      p.filter(Extensions.partitionIn("__bucket", buckets))
    val byTerm = Window.partitionBy("term")
    val contribs = text.stored match {
      // a plain layout: the df stored on each posting, less the term's
      // deleted postings
      case Some(stored) => idx.deleted match {
        case None =>
          pruned(stored).join(broadcast(pairs), "term")
            .withColumn("__contrib",
              round(idf(col("df")) * fTf * lit(1000000.0)).cast("long"))
        case Some(del) =>
          pruned(stored).join(broadcast(terms), "term")
            .join(del.withColumnRenamed("__del_id", idCol)
              .withColumn("__del", lit(1)), Seq(idCol), "left")
            .withColumn("__df_del", count(col("__del")).over(byTerm))
            .filter(col("__del").isNull)
            .join(broadcast(pairs), "term")
            .withColumn("__contrib",
              round(idf(col("df") - col("__df_del")) * fTf *
                lit(1000000.0)).cast("long"))
      }
      case None =>
        val live = idx.deleted match {
          case None => pruned(idx.postings)
          case Some(del) => pruned(idx.postings).join(
            del.withColumnRenamed("__del_id", idCol), Seq(idCol), "left_anti")
        }
        live.join(broadcast(terms), "term")
          .withColumn("df", count(lit(1)).over(byTerm))
          .join(broadcast(pairs), "term")
          .withColumn("__contrib",
            round(idf(col("df")) * fTf * lit(1000000.0)).cast("long"))
    }
    contribs.groupBy(col(qidCol), col(idCol))
      .agg(sum("__contrib").as("__score_int"))
  }

  private def refProbes(queries: DataFrame,
      centroids: Seq[(Int, Array[Float])],
      tree: Option[Extensions.TreeQuantizer], nprobe: Int,
      dist: (Column, Column) => Column): (DataFrame, DataFrame, Seq[Int]) = {
    val bound = bindLocal(queries.select(col("query_id"), col("__q")))
    val probeCells = tree match {
      case Some(tq) if nprobe >= tq.nLeaves =>
        typedLit((0 until tq.nLeaves).toList)
      case Some(tq) =>
        val self = graft.functions.TreeCells.nearestLeaf(col("__q"),
          tq.supFlat, tq.leafFlat, tq.groupStart, tq.dim)
        val pr = graft.functions.TreeCells.probes(col("__q"),
          tq.supFlat, tq.leafFlat, tq.groupStart, tq.dim, nprobe,
          tq.superProbeFor(nprobe))
        slice(array_distinct(concat(array(self), pr)), 1, nprobe)
      case None =>
        val ranked = array_sort(array(centroids.sortBy(_._1).map {
          case (cell, c) =>
            struct(dist(col("__q"), typedLit(c)).as("d"), lit(cell).as("c"))
        }: _*))
        transform(slice(ranked, 1, nprobe), _.getField("c"))
    }
    val rows = bound.select(col("query_id"), col("__q"),
        sqrt(Extensions.dot(col("__q"), col("__q"))).as("__nq"), probeCells)
      .collect().toSeq.flatMap { r =>
        Option(r.getSeq[Any](3)).getOrElse(Nil)
          .collect { case c: Int => Row(r.get(0), r.get(1), r.get(2), c) }
      }
    val probed = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(bound.schema.fields ++ Seq(StructField("__nq", DoubleType),
        StructField("__cell", IntegerType, nullable = false))))
    (bound, probed, rows.map(_.getInt(3)).distinct.sorted)
  }

  private def refIvfQuery(ivf: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val (_, probed, cells) = refProbes(queries, ivf.centroidPairs,
      ivf.treeQuantizer, nprobe, (q, c) => -Extensions.cosine(q, c))
    val (idCol, embCol) = (ivf.idCol, ivf.embCol)
    ivf.corpus.filter(Extensions.partitionIn("__cell", cells))
      .select(col(idCol).as("neighbor_id"), col(embCol).as("__e"),
        sqrt(Extensions.dot(col(embCol), col(embCol))).as("__ne"),
        col("__cell"))
      .join(broadcast(probed), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("__ne") =!= 0 && col("__nq") =!= 0,
          Extensions.dot(col("__e"), col("__q")) /
            (col("__ne") * col("__nq")))
          .otherwise(0.0), 6).as("cosine_sim"))
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "cosine_sim", k, smallestFirst = false))
  }

  private def refIvfQueryByIds(ivf: IvfIndex, ids: Seq[Long], k: Int,
      nprobe: Int): DataFrame =
    refIvfQuery(ivf, ivf.corpus.filter(col(ivf.idCol).isin(ids: _*))
      .select(col(ivf.idCol).as("query_id"), col(ivf.embCol).as("__q")),
      k, nprobe)

  private def refRrfFuseRanked(lex: DataFrame, dense: DataFrame,
      idCol: String, k: Int, rrfK: Int): DataFrame = {
    def branch(r: Column): Column =
      when(r.isNotNull, lit(1.0) / (lit(rrfK) + r.cast("double")))
        .otherwise(0.0)
    val noRank = lit(null).cast("int")
    val fused = lex.select(col("query_id"), col(idCol), col("lex_rank"),
        noRank.as("vec_rank"))
      .unionByName(dense.select(col("query_id"), col(idCol),
        noRank.as("lex_rank"), col("vec_rank")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .agg(max("lex_rank").as("lex_rank"), max("vec_rank").as("vec_rank"))
      .withColumn("__rrf", branch(col("lex_rank")) + branch(col("vec_rank")))
    fused
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(desc("__rrf"), asc(idCol))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("lex_rank"),
        col("vec_rank"), round(col("__rrf"), 6).as("rrf_score"),
        col("rank"))
  }

  private def refQueryByIds(text: Text, ivf: IvfIndex,
      docs: DataFrame, ids: Seq[Long], kBranch: Int, k: Int,
      nprobe: Int): DataFrame = {
    val idCol = text.idx.idCol
    val qDocs = docs.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("query_id"), col("text").as("__qtext"))
    val lex = Extensions.bm25RankTail(
        refScores(text, qDocs, "__qtext", "query_id")
          .filter(col(idCol) =!= col("query_id")),
        "query_id", idCol, kBranch)
      .select(col("query_id"), col(idCol), col("rank").as("lex_rank"))
    val dense = refIvfQueryByIds(ivf, ids, kBranch, nprobe)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("rank").as("vec_rank"))
    refRrfFuseRanked(lex, dense, idCol, k, 60)
  }

  private def refPqSearch(path: String, ids: Seq[Long], k: Int, nprobe: Int,
      refineFactor: Int): DataFrame = {
    val cells = IvfIndex.cellsWithEpochs(spark, path)
    val codes = IvfIndex.codesWithEpochs(spark, path)
    val centroids = IvfIndex.readQuantizer(spark, path)
    val codebook = spark.read.parquet(s"$path/codebook")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
    val tree = IvfIndex.load(spark, path, "vec_id", "embedding").treeQuantizer
    val queries = cells.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
    val (bound, probed, probedCells) =
      refProbes(queries, centroids, tree, nprobe, Extensions.pqSqDist)
    val adc = graft.functions.PqOps.pqAdc(col("__q"), col("codes"), codebook)
    val shortlist = codes
      .filter(Extensions.partitionIn("__cell", probedCells))
      .select(col("vec_id").as("neighbor_id"), col("codes"), col("__cell"))
      .join(broadcast(probed), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adc, 6).as("adc_dist"))
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "adc_dist", k * refineFactor, smallestFirst = true))
    val full = cells.filter(Extensions.partitionIn("__cell", probedCells))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("__e"))
    shortlist.select(col("query_id"), col("neighbor_id"))
      .join(full, Seq("neighbor_id"))
      .join(bound, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Extensions.pqSqDist(col("__e"), col("__q")), 6)
          .as("l2_dist"))
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "l2_dist", k, smallestFirst = true))
  }

  // ── inputs ────────────────────────────────────────────────────────

  private val Zero = 9001L   // zero vector, plain text
  private val Blank = 9002L  // text without tokens
  private val Dup = 3L       // a second document and vector under id 3
  private val Absent = 424242L

  private val words = Seq("spark", "window", "join", "merge", "sort",
    "batch", "stream", "index", "query", "vector", "delta", "lake", "table",
    "shuffle", "cache", "token", "score", "rank", "cell", "probe", "order",
    "ship", "slowly", "plan")

  /** 600 documents of six to nine words (many shared terms) plus the
    * edge rows. */
  private lazy val docs: DataFrame = {
    val base = (0L until 600L).map { i =>
      Row(i, (0 until 6 + (i % 4).toInt).map(j =>
        words(((i * (j + 3) + j * j) % words.size).toInt)).mkString(" "))
    }
    val extra = Seq(Row(Zero, "order the ship and the order"),
      Row(Blank, "   "), Row(Dup, "ship the order slowly"))
    spark.createDataFrame(java.util.Arrays.asList(base ++ extra: _*),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))).cache()
  }

  /** 600 seeded 16-dim vectors plus a zero vector and a second vector
    * under id 3 (ids shared with the documents). */
  private lazy val emb: DataFrame = {
    val rng = new scala.util.Random(42)
    val base = (0L until 600L).map(i =>
      Row(i, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val extra = Seq(Row(Zero, Seq.fill(16)(0f)),
      Row(Dup, Seq.fill(16)(rng.nextGaussian().toFloat)))
    spark.createDataFrame(java.util.Arrays.asList(base ++ extra: _*),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))).cache()
  }

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** A loaded text index and, for a plain layout, the postings it
    * stored (with their `df` column). */
  private final class Text(val idx: SegmentedTextIndex,
      val stored: Option[DataFrame])

  /** The plain layout as older releases saved it. */
  private def plainText(deletes: Boolean): Text = {
    val dir = tmp("graft-rb-plain")
    graft.PlainTextLayout.write(docs, "text", "doc_id", dir, nBuckets = 16)
    if (deletes) deleteText(dir)
    new Text(TextIndex.load(spark, dir),
      Some(graft.PlainTextLayout.postings(dir)))
  }

  private def segmentedText(deletes: Boolean): Text = {
    val dir = tmp("graft-rb-seg")
    TextIndex.appendSegment(docs.filter(col("doc_id") < 300), "text",
      "doc_id", dir, "a", nBuckets = 16)
    TextIndex.appendSegment(docs.filter(col("doc_id") >= 300), "text",
      "doc_id", dir, "b", nBuckets = 16)
    if (deletes) deleteText(dir)
    new Text(TextIndex.loadSegments(spark, dir), None)
  }

  private def deleteText(dir: String): Unit = {
    import spark.implicits._
    TextIndex.delete(spark, dir, Seq(1L, 2L, 40L, 77L).toDF("doc_id"),
      "doc_id", "td-1")
  }

  private lazy val flatDir = {
    val d = tmp("graft-rb-flat")
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 8).save(d)
    d
  }
  private lazy val treeDir = {
    val d = tmp("graft-rb-tree")
    IvfIndex.build(emb, "embedding", "vec_id", nCells = 64).save(d)
    d
  }
  private def ivf(dir: String) = IvfIndex.load(spark, dir, "vec_id", "embedding")

  /** Shared terms across 0, 1, 2 and the edge rows. */
  private val ids = Seq(0L, 1L, 2L, Dup, Zero, Blank, Absent)

  // ── comparison ────────────────────────────────────────────────────

  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v         => v
    }).sortBy(_.mkString("|"))

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema)
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty, "the comparison ranks nothing")
    assert(g == w)
  }

  // ── laws ──────────────────────────────────────────────────────────

  for (deletes <- Seq(false, true)) {
    val label = if (deletes) "with deletes" else "without deletes"

    test(s"BM25 query on the plain layout $label equals the " +
        "local-relation plan bit for bit") {
      val text = plainText(deletes)
      val q = docs.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      assertSame(text.idx.query(q, "qtext", "qid", k = 50),
        Extensions.bm25RankTail(refScores(text, q, "qtext", "qid"), "qid",
          "doc_id", 50))
    }

    test(s"BM25 query on the segmented layout $label equals the " +
        "local-relation plan bit for bit") {
      val text = segmentedText(deletes)
      val q = docs.filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      assertSame(text.idx.query(q, "qtext", "qid", k = 50),
        Extensions.bm25RankTail(refScores(text, q, "qtext", "qid"), "qid",
          "doc_id", 50))
    }
  }

  for ((qname, dir) <- Seq("flat" -> (() => flatDir),
      "tree" -> (() => treeDir)); nprobe <- Seq(2, 64)) {
    test(s"IVF queryByIds ($qname quantizer, nprobe $nprobe) equals the " +
        "probed-cell join bit for bit") {
      val idx = ivf(dir())
      assert(idx.treeQuantizer.isDefined == (qname == "tree"))
      assertSame(idx.queryByIds(ids, 20, nprobe),
        refIvfQueryByIds(idx, ids, 20, nprobe))
    }

    test(s"IVF-PQ queryByIds ($qname quantizer, nprobe $nprobe) equals " +
        "the probed-cell join bit for bit") {
      val d = tmp(s"graft-rb-pq-$qname")
      IvfIndex.build(emb, "embedding", "vec_id",
        nCells = if (qname == "tree") 64 else 8).save(d)
      IvfIndex.addPqCodes(spark, d, "vec_id", "embedding", m = 4, kCode = 16)
      assertSame(IvfIndex.loadPq(spark, d, "vec_id", "embedding")
          .queryByIds(ids, 10, nprobe, refineFactor = 4),
        refPqSearch(d, ids, 10, nprobe, 4))
    }
  }

  for ((tname, text) <- Seq[(String, Boolean => Text)](
        "plain" -> plainText, "segmented" -> segmentedText);
      deletes <- Seq(false, true);
      (qname, dir) <- Seq("flat" -> (() => flatDir),
        "tree" -> (() => treeDir))) {
    val label = if (deletes) "with deletes" else "without deletes"
    test(s"hybrid queryByIds ($tname text $label, $qname quantizer) " +
        "equals the local-relation composition bit for bit") {
      val t = text(deletes)
      val v = ivf(dir())
      for (nprobe <- Seq(2, 64))
        assertSame(
          HybridIndex.queryByIds(t.idx, v, docs, "text", ids, kBranch = 10,
            k = 10, nprobe = nprobe),
          refQueryByIds(t, v, docs, ids, 10, 10, nprobe))
    }
  }

  test("external hybrid query equals the local-relation composition " +
      "bit for bit") {
    val t = segmentedText(deletes = false)
    val v = ivf(flatDir)
    val q = docs.filter(col("doc_id").isin(ids: _*))
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
      .select((col("doc_id") + lit(1000000L)).as("qid"),
        col("text").as("qtext"), col("embedding").as("qvec"))
    val bound = bindLocal(q.select(col("qid").as("query_id"),
      col("qtext").as("__qtext"), col("qvec").as("__q")))
    val lex = Extensions.bm25RankTail(
        refScores(t, bound.select("query_id", "__qtext"), "__qtext",
          "query_id"), "query_id", "doc_id", 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = refIvfQuery(v, bound.select("query_id", "__q"), 10, 2)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    assertSame(HybridIndex.query(t.idx, v, q, "qid", "qtext", "qvec",
        kBranch = 10, k = 10, nprobe = 2),
      refRrfFuseRanked(lex, dense, "doc_id", 10, 60))
  }
}

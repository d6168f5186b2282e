package graft.engine

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The ad-hoc IVF operators are transient indexes: `annIvf` queries an
  * [[IvfIndex]] and `ivfPqTopK` runs [[IvfPqIndex.search]] over one
  * [[IvfIndex.fitFor]] fit. They must return the same rows with the
  * same double BITS as the inline formulations kept below as the
  * reference (MLlib fit, centroid `crossJoin` + rank-window probe,
  * cell-join scoring tail), except where a change is declared:
  * duplicated query ids probe per copy, and 64+ cells take the tree
  * quantizer. Empty and one-row corpora return typed empty results. */
class IvfParitySpec extends AnyFunSuite {
  import TestSpark.spark
  import Extensions.{cosine, dot, nearestCellExpr, pqSqDist, topKBy}

  private val sf = "/root/testdata/sf0.01"
  private val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // ── the inline reference formulations ─────────────────────────────

  /** 1-in-4 hash-sample MLlib fit, float-cast centroids in cell order. */
  private def refFit(emb: DataFrame, nCells: Int): Seq[(Int, Array[Float])] = {
    val vecs = emb.select(col("vec_id"), col("embedding"),
      array_to_vector(col("embedding")).as("__vec"))
    val sample = vecs.filter(pmod(xxhash64(col("vec_id")), lit(4)) === 0)
    val fitSample =
      if (sample.count() >= nCells.toLong * 4) sample else vecs
    new KMeans().setFeaturesCol("__vec").setPredictionCol("__cell")
      .setK(nCells).setSeed(42L).setMaxIter(5).fit(fitSample)
      .clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toSeq
  }

  /** `annIvf` as an inline plan: returns the result and its centroids
    * (none for the hash-cell exhaustive path). */
  private def refAnnIvf(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int, nprobe: Int): (DataFrame, Seq[Array[Float]]) = {
    val (assigned, probe, cents) =
      if (nprobe >= nCells) {
        val a = emb.select(col("vec_id"), col("embedding"))
          .withColumn("__cell",
            pmod(xxhash64(col("vec_id")), lit(nCells.toLong)).cast("int"))
        (a, (q: DataFrame) => q.withColumn("__cell",
          explode(typedLit((0 until nCells).toList))), Nil)
      } else {
        val centroids = refFit(emb, nCells)
        val a = emb.select(col("vec_id"), col("embedding"),
          nearestCellExpr(col("embedding"), centroids.map(_._2.toSeq))
            .as("__cell"))
        val centDf = spark.createDataFrame(centroids)
          .toDF("__cell", "__centroid")
        (a, (q: DataFrame) => q.crossJoin(broadcast(centDf))
          .withColumn("__cdist", -cosine(col("__q"), col("__centroid")))
          .withColumn("__crank", row_number().over(Window
            .partitionBy("query_id").orderBy(asc("__cdist"), asc("__cell"))))
          .filter(col("__crank") <= nprobe)
          .select(col("query_id"), col("__q"), col("__nq"), col("__cell")),
          centroids.map(_._2))
      }
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"),
        sqrt(dot(col("embedding"), col("embedding"))).as("__nq"))
    val scored = assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("__e"),
        sqrt(dot(col("embedding"), col("embedding"))).as("__ne"),
        col("__cell"))
      .join(probe(queries), Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("__ne") =!= 0 && col("__nq") =!= 0,
          dot(col("__e"), col("__q")) / (col("__ne") * col("__nq")))
          .otherwise(0.0), 6).as("cosine_sim"))
    (topKBy(scored, "query_id", "neighbor_id", "cosine_sim", k,
      smallestFirst = false), cents)
  }

  /** `ivfPqTopK` as an inline plan: returns the result, its centroids
    * and its codebook. */
  private def refIvfPqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int, nprobe: Int, m: Int, kCode: Int, refineFactor: Int)
      : (DataFrame, Seq[Array[Float]], Seq[Seq[Seq[Float]]]) = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val centroids = refFit(emb, nCells)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      nearestCellExpr(col("embedding"), centroids.map(_._2.toSeq))
        .as("__cell"))
    val codebook = Extensions.pqCodebookOf(emb, "embedding", "vec_id", dim,
      m, kCode, 42L)
    val coded = assigned.select(col("vec_id").as("neighbor_id"),
      col("__cell"),
      graft.functions.PqOps.pqEncode(col("embedding"), codebook).as("codes"))
    val centDf = spark.createDataFrame(centroids).toDF("__cell", "__centroid")
    val queries = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
    val probed = queries.crossJoin(broadcast(centDf))
      .withColumn("__cdist", pqSqDist(col("__q"), col("__centroid")))
      .withColumn("__crank", row_number().over(Window
        .partitionBy("query_id").orderBy(asc("__cdist"), asc("__cell"))))
      .filter(col("__crank") <= nprobe)
      .select(col("query_id"), col("__q"), col("__cell"))
    val adc = graft.functions.PqOps.pqAdc(col("__q"), col("codes"), codebook)
    val shortlist = coded.join(probed, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), round(adc, 6).as("adc_dist"))
      .transform(topKBy(_, "query_id", "neighbor_id", "adc_dist",
        k * refineFactor, smallestFirst = true))
    val refined = shortlist.select(col("query_id"), col("neighbor_id"))
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("__e")), Seq("neighbor_id"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(pqSqDist(col("__e"), col("__q")), 6).as("l2_dist"))
      .transform(topKBy(_, "query_id", "neighbor_id", "l2_dist", k,
        smallestFirst = true))
    (refined, centroids.map(_._2), codebook)
  }

  // ── inputs ────────────────────────────────────────────────────────

  private lazy val base = Tables.embeddings(spark, sf)
    .select("vec_id", "embedding").persist(mad)

  private def vecOf(id: Long): Array[java.lang.Float] =
    base.filter(col("vec_id") === id).head().getAs[Seq[Float]]("embedding")
      .map(f => java.lang.Float.valueOf(f)).toArray

  private def withRows(rows: Row*): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    base.select(col("vec_id"), col("embedding")
        .cast(ArrayType(FloatType, containsNull = true)))
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema))
  }

  /** sf0.01 plus: a zero vector (9001), a null element (9002), a row of
    * the wrong length (9003), and a second row under id 3. */
  private lazy val edged: DataFrame = {
    val nullEl = vecOf(7L).clone(); nullEl(5) = null
    withRows(
      Row(9001L, Array.fill[java.lang.Float](vecOf(0L).length)(0f).toSeq),
      Row(9002L, nullEl.toSeq),
      Row(9003L, (vecOf(8L) :+ java.lang.Float.valueOf(0.5f)).toSeq),
      Row(3L, vecOf(9L).toSeq))
  }

  /** sf0.01 plus a second row under id 3 (id 9's vector). */
  private lazy val duplicated: DataFrame = withRows(Row(3L, vecOf(9L).toSeq))

  /** Every row of a ranked result, doubles as raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v         => v
    })

  private def floatBits(cents: Seq[Array[Float]]): Seq[Seq[Int]] =
    cents.map(_.toSeq.map(java.lang.Float.floatToRawIntBits))

  private def assertSame(name: String, got: DataFrame,
      want: DataFrame): Unit = {
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty, s"$name returned no rows")
    assert(g == w, s"$name differs from the inline plan")
  }

  private val catalogIds = Seq(0L, 1L, 2L, 3L, 4L)

  // ── exact bits against the inline plans ───────────────────────────

  for ((nCells, nprobe) <- Seq((16, 4), (8, 3), (8, 1))) {
    test(s"pruned annIvf equals the inline plan and fit bit for bit at " +
        s"$nCells/$nprobe") {
      val got = Extensions.annIvf(base, "embedding", "vec_id", catalogIds,
        k = 10, nCells = nCells, nprobe = nprobe)
      val fit = Extensions.lastAnnIvfFit.get()
      val (want, cents) = refAnnIvf(base, catalogIds, 10, nCells, nprobe)
      assertSame("annIvf", got, want)
      assert(floatBits(fit) == floatBits(cents))
    }
  }

  for ((cname, emb, ids) <- Seq(
      ("sf0.01", () => base, catalogIds),
      ("edge rows, duplicate and absent ids", () => edged,
        Seq(3L, 9001L, 9002L, 9003L, 12L, 424242L)))) {
    test(s"exhaustive annIvf equals the inline hash-cell plan bit for " +
        s"bit at 8/8: $cname") {
      val got = Extensions.annIvf(emb(), "embedding", "vec_id", ids,
        k = 1000, nCells = 8, nprobe = 8)
      assert(Extensions.lastAnnIvfFit.get() == null)
      assertSame("annIvf", got, refAnnIvf(emb(), ids, 1000, 8, 8)._1)
    }
  }

  for ((nCells, nprobe) <- Seq((16, 8), (8, 3), (8, 1))) {
    test(s"ivfPqTopK equals the inline plan and fit bit for bit at " +
        s"$nCells/$nprobe") {
      val got = Extensions.ivfPqTopK(base, "embedding", "vec_id",
        catalogIds, k = 10, nCells = nCells, nprobe = nprobe)
      val (cents, codebook) = Extensions.lastIvfPqFit.get()
      val (want, refCents, refCodebook) = refIvfPqTopK(base, catalogIds,
        10, nCells, nprobe, m = 4, kCode = 256, refineFactor = 8)
      assertSame("ivfPqTopK", got, want)
      assert(floatBits(cents) == floatBits(refCents))
      assert(codebook == refCodebook)
    }
  }

  // ── the declared semantic changes ─────────────────────────────────

  test("each copy of a duplicated query id probes its own cells, as " +
      "IvfIndex.queryByIds does over the same fit") {
    val ids = Seq(0L, 3L, 12L)
    for (nprobe <- Seq(3, 1)) {
      val got = Extensions.annIvf(duplicated, "embedding", "vec_id", ids,
        k = 10, nCells = 8, nprobe = nprobe)
      val idx = IvfIndex.build(duplicated, "embedding", "vec_id", 8)
      assert(bits(got) == bits(idx.queryByIds(ids, 10, nprobe)))
      // query 3 ranks the union of what each copy finds in its own cells
      val copies = duplicated.filter(col("vec_id") === 3L)
        .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
        .collect()
      val perCopy = copies.map(r => idx.query(spark.createDataFrame(
          java.util.Arrays.asList(r), r.schema), 10, nprobe))
        .reduce(_ union _)
      val merged = topKBy(perCopy.drop("rank"), "query_id", "neighbor_id",
        "cosine_sim", 10, smallestFirst = false)
      assert(bits(got.filter(col("query_id") === 3L)) == bits(merged))
      // every other query is unchanged
      assert(bits(got.filter(col("query_id") =!= 3L)) ==
        bits(refAnnIvf(duplicated, ids, 10, 8, nprobe)._1
          .filter(col("query_id") =!= 3L)))
    }
  }

  test("at 64 cells annIvf and ivfPqTopK take the tree quantizer and " +
      "clear the flat fit stashes") {
    val got = Extensions.annIvf(base, "embedding", "vec_id", catalogIds,
      k = 10, nCells = 64, nprobe = 4)
    assert(Extensions.lastAnnIvfFit.get() == null)
    val idx = IvfIndex.build(base, "embedding", "vec_id", 64)
    assert(idx.treeQuantizer.nonEmpty)
    assert(bits(got) == bits(idx.queryByIds(catalogIds, 10, 4)))
    assert(bits(got).nonEmpty)
    val pq = Extensions.ivfPqTopK(base, "embedding", "vec_id", catalogIds,
      k = 10, nCells = 64, nprobe = 8)
    assert(Extensions.lastIvfPqFit.get() == null)
    assert(pq.count() > 0)
  }

  // ── empty and one-row corpora ─────────────────────────────────────

  test("every ad-hoc search returns a typed empty result on an empty " +
      "corpus and answers a one-row corpus; IvfIndex.build rejects an " +
      "empty corpus and fits one row as its own centroid") {
    val ids = Seq(0L, 1L)
    val ops = Seq[(String, DataFrame => DataFrame, Int)](
      ("cosineTopK", Extensions.cosineTopK(_, "embedding", "vec_id", ids), 0),
      ("pqTopK", Extensions.pqTopK(_, "embedding", "vec_id", ids), 0),
      ("annBucketed", Extensions.annBucketed(_, "embedding", "vec_id", ids),
        0),
      ("annIvf pruned", Extensions.annIvf(_, "embedding", "vec_id", ids), 0),
      ("annIvf exhaustive", Extensions.annIvf(_, "embedding", "vec_id", ids,
        nCells = 8, nprobe = 8), 0),
      ("ivfPqTopK", Extensions.ivfPqTopK(_, "embedding", "vec_id", ids), 0),
      ("knnJoin pruned", Extensions.knnJoin(_, "embedding", "vec_id"), 0),
      ("knnJoin exhaustive", Extensions.knnJoin(_, "embedding", "vec_id",
        nCells = 4, nprobe = 4), 0),
      ("knnJoin tree", Extensions.knnJoin(_, "embedding", "vec_id",
        nCells = 64, nprobe = 4), 0),
      ("mmrRerank", Extensions.mmrRerank(_, "embedding", "vec_id", ids), 0),
      ("pqQuantize", Extensions.pqQuantize(_, "embedding", "vec_id"), 1))
    val empty = base.filter(col("vec_id") < 0L)
    val one = base.filter(col("vec_id") === 0L)
    def types(df: DataFrame) = df.schema.map(f => (f.name, f.dataType.simpleString))
    for ((name, op, oneRows) <- ops) {
      val (e, o) = (op(empty), op(one))
      assert(e.count() == 0, s"$name: rows on an empty corpus")
      assert(o.count() == oneRows, s"$name: one-row corpus")
      assert(types(e) == types(o), s"$name: empty result schema")
    }
    val err = intercept[IllegalArgumentException](
      IvfIndex.build(empty, "embedding", "vec_id"))
    assert(err.getMessage.contains("empty corpus"))
    val single = IvfIndex.build(one, "embedding", "vec_id")
    assert(floatBits(single.centroidArrays) ==
      floatBits(Seq(vecOf(0L).map(_.floatValue))))
    assert(single.queryByIds(ids, 10, 4).count() == 0)
  }
}

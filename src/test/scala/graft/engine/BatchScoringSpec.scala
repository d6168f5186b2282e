package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The batched scorers ([[graft.functions.QueryBatch]]) against the
  * per-pair formulation they replaced: `cosineTopK`, `pqTopK` and
  * `annBucketed` must return the same rows with the same double BITS as
  * the `crossJoin(broadcast(queries))` / bucket-join plans kept below
  * as the reference, on the sf0.01 embeddings and on the edge rows the
  * kernels special-case. */
class BatchScoringSpec extends AnyFunSuite {
  import TestSpark.spark
  import Extensions.{dot, topKBy}

  private val sf = "/root/testdata/sf0.01"

  // ── the per-pair reference formulations ────────────────────────────

  private def refCosineTopK(emb: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = {
    val q = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"),
        sqrt(dot(col("embedding"), col("embedding"))).as("__nq"))
    val scored = emb
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("__ne"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(when(col("__ne") =!= 0 && col("__nq") =!= 0,
          dot(col("embedding"), col("__q")) / (col("__ne") * col("__nq")))
          .otherwise(0.0), 6).as("cosine_sim"))
    topKBy(scored, "query_id", "neighbor_id", "cosine_sim", k,
      smallestFirst = false)
  }

  private def refPqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      m: Int, kCode: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val codebook = Extensions.pqCodebookOf(emb, "embedding", "vec_id", dim,
      m, kCode, 42L)
    val coded = emb.select(col("vec_id").as("neighbor_id"),
      graft.functions.PqOps.pqEncode(col("embedding"), codebook).as("codes"))
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
    val adc = graft.functions.PqOps.pqAdc(col("__q"), col("codes"), codebook)
    val scored = coded.crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(adc, 6).as("adc_dist"))
    topKBy(scored, "query_id", "neighbor_id", "adc_dist", k,
      smallestFirst = true)
  }

  private def refAnnBucketed(emb: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val planes = Extensions.annPlanes(dim, 4, 4, 42L)
    def buckets(v: org.apache.spark.sql.Column) =
      graft.functions.SignBuckets.signBuckets(v, planes)
    val probes = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("__q"),
        posexplode(buckets(col("embedding"))).as(Seq("__t", "__b")))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("__e"),
      posexplode(buckets(col("embedding"))).as(Seq("__t", "__b")))
    corpus.join(broadcast(probes), Seq("__t", "__b"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        sqrt(greatest(dot(col("__q"), col("__q")) +
          dot(col("__e"), col("__e")) -
          lit(2.0) * dot(col("__q"), col("__e")), lit(0.0))).as("l2"))
      .groupBy("query_id", "neighbor_id")
      .agg(min(col("l2")).as("l2_dist"))
      .transform(topKBy(_, "query_id", "neighbor_id", "l2_dist", k,
        smallestFirst = true))
  }

  // ── inputs ────────────────────────────────────────────────────────

  private lazy val base = Tables.embeddings(spark, sf).cache()

  private def vecOf(id: Long): Array[java.lang.Float] =
    base.filter(col("vec_id") === id).head().getAs[Seq[Float]]("embedding")
      .map(f => java.lang.Float.valueOf(f)).toArray

  /** sf0.01 plus: a zero vector (9001), a null element (9002), a row of
    * the wrong length (9003), and a second row under id 3. */
  private lazy val edged: DataFrame = {
    import org.apache.spark.sql.types._
    val dim = vecOf(0L).length
    val nullEl = vecOf(7L).clone(); nullEl(5) = null
    val longer = vecOf(8L) :+ java.lang.Float.valueOf(0.5f)
    val rows = Seq(
      Row(9001L, Array.fill[java.lang.Float](dim)(0f).toSeq),
      Row(9002L, nullEl.toSeq),
      Row(9003L, longer.toSeq),
      Row(3L, vecOf(9L).toSeq))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    base.select(col("vec_id"), col("embedding")
        .cast(ArrayType(FloatType, containsNull = true)))
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema))
  }

  /** Every row of a ranked result, doubles as raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("query_id", "rank").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v         => v
    })

  private def assertSame(name: String, got: DataFrame,
      want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$name schema")
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty || w.isEmpty)
    assert(g == w, s"$name differs from the per-pair plan")
  }

  // the edge set ranks every candidate (k above the corpus size), so
  // each duplicated, zero, null-score or wrong-length pair is compared
  private val querySets = Seq(
    ("catalog", Seq(0L, 1L, 2L, 3L, 4L), 10),
    ("edge rows, duplicate and absent ids",
      Seq(3L, 9001L, 9002L, 9003L, 12L, 424242L), 1000),
    ("single", Seq(17L), 10))

  for ((label, ids, k) <- querySets) {
    val corpora = if (label == "catalog") Seq("sf0.01" -> (() => base))
      else Seq("sf0.01" -> (() => base), "edge rows" -> (() => edged))
    for ((cname, emb) <- corpora) {
      test(s"cosineTopK equals the per-pair plan bit for bit: $label " +
          s"queries on $cname") {
        assertSame("cosineTopK",
          Extensions.cosineTopK(emb(), "embedding", "vec_id", ids, k),
          refCosineTopK(emb(), ids, k))
      }
      test(s"pqTopK equals the per-pair plan bit for bit: $label " +
          s"queries on $cname") {
        assertSame("pqTopK",
          Extensions.pqTopK(emb(), "embedding", "vec_id", ids, k,
            m = 4, kCode = 16),
          refPqTopK(emb(), ids, k, 4, 16))
      }
      test(s"annBucketed equals the joined plan bit for bit: $label " +
          s"queries on $cname") {
        assertSame("annBucketed",
          Extensions.annBucketed(emb(), "embedding", "vec_id", ids, k),
          refAnnBucketed(emb(), ids, k))
      }
    }
  }

  test("the edge rows reach the rankings they special-case") {
    val ids = Seq(3L, 9001L, 9002L, 9003L)
    val cos = Extensions.cosineTopK(edged, "embedding", "vec_id", ids,
      100000).collect()
    // a zero or null-element query scores every row 0, and a zero,
    // null-element or longer row scores 0 (zero norm) or null (skipped)
    assert(cos.filter(_.getLong(0) == 9001L).forall(_.getDouble(2) == 0.0))
    assert(cos.filter(_.getLong(0) == 9002L).forall(_.getDouble(2) == 0.0))
    assert(cos.exists(r => r.getLong(0) == 3L && r.getLong(1) == 9001L))
    assert(!cos.exists(r => r.getLong(0) == 3L && r.getLong(1) == 9003L))
    // id 3 has two rows: both copies query, neither matches itself
    assert(!cos.exists(r => r.getLong(0) == 3L && r.getLong(1) == 3L))
    val ann = Extensions.annBucketed(edged, "embedding", "vec_id",
      Seq(0L, 1L, 2L, 3L), 100000).collect()
    // min-dedup: a neighbor appears once per query, even id 3's copies
    for (q <- Seq(0L, 1L, 2L, 3L)) {
      val ns = ann.filter(_.getLong(0) == q).map(_.getLong(1))
      assert(ns.length == ns.distinct.length, s"query $q repeats a neighbor")
    }
    assert(ann.exists(_.getLong(1) == 3L), "id 3 never collided")
  }

  test("the kernels' interpreted path equals their generated code") {
    val ids = Seq(3L, 9001L, 9002L, 9003L, 12L)
    val ops = Seq[() => DataFrame](
      () => Extensions.cosineTopK(edged, "embedding", "vec_id", ids, 10),
      () => Extensions.pqTopK(edged, "embedding", "vec_id", ids, 10),
      () => Extensions.annBucketed(edged, "embedding", "vec_id", ids, 10))
    val generated = ops.map(op => bits(op()))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    val interpreted = try ops.map(op => bits(op())) finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None)    => spark.conf.unset(key)
    }
    assert(generated.forall(_.nonEmpty) && interpreted == generated)
  }

  test("the codebook sample equals the boxed, float-cast collect it " +
      "replaced, for float and double corpora") {
    def boxed(emb: DataFrame): Seq[Seq[Float]] = emb
      .select(transform(col("embedding"), _.cast("float")).as("embedding"),
        xxhash64(col("vec_id")).as("__h"), col("vec_id"))
      .orderBy(col("__h"), col("vec_id"))
      .limit(300)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray.toSeq).toSeq
    val noNullVec = edged.filter(col("embedding").isNotNull)
    // and a computed float column: cosineNearDupsBlocked's unit
    // vectors, derived from the raw embedding and its norm
    val norm = sqrt(dot(col("embedding"), col("embedding")))
    val units = noNullVec.filter(norm > 0).select(col("vec_id"),
      transform(col("embedding"), x => (x.cast("double") / norm)
        .cast("float")).as("embedding"))
    for (emb <- Seq(noNullVec, noNullVec.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")), units)) {
      val got = Extensions.quantizerSample(emb, "embedding", "vec_id", 300)
        .map(_.toSeq.map(java.lang.Float.floatToRawIntBits)).toSeq
      val want = boxed(emb).map(_.map(java.lang.Float.floatToRawIntBits))
      assert(got == want)
    }
  }

  test("PlanAudit flags the per-pair plans' kernels on the streamed side " +
      "of the nested-loop join, and nothing in the batched plans") {
    def plan(df: DataFrame) = { df.collect(); df.queryExecution.executedPlan }
    val ids = Seq(0L, 1L, 2L)
    val flagged = Seq(refCosineTopK(base, ids, 5),
        refPqTopK(base, ids, 5, 4, 16))
      .map(df => graft.PlanAudit.kernelsOnNestedLoopStream(plan(df)))
    assert(flagged.forall(_.nonEmpty), s"unflagged per-pair plan: $flagged")
    for (df <- Seq(
        Extensions.cosineTopK(base, "embedding", "vec_id", ids, 5),
        Extensions.pqTopK(base, "embedding", "vec_id", ids, 5),
        Extensions.annBucketed(base, "embedding", "vec_id", ids, 5)))
      assert(graft.PlanAudit.kernelsOnNestedLoopStream(plan(df)).isEmpty)
  }

  test("two query batches of equal size compile the same whole-stage " +
      "code and carry no query id as a literal") {
    import org.apache.spark.sql.catalyst.expressions.{InSet, Literal}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.debug.codegenStringSeq
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
    def stageCode(df: DataFrame): Set[String] = {
      df.collect()
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2
        .replaceAll("(CodegenStage|codegenStageId=)\\d+", "$1")).toSet
    }
    val (a, b) = (Seq(101L, 102L, 103L), Seq(201L, 202L, 203L))
    for ((name, op) <- Seq[(String, Seq[Long] => DataFrame)](
        "cosineTopK" -> (ids =>
          Extensions.cosineTopK(base, "embedding", "vec_id", ids, 5)),
        "pqTopK" -> (ids =>
          Extensions.pqTopK(base, "embedding", "vec_id", ids, 5)),
        "annBucketed" -> (ids =>
          Extensions.annBucketed(base, "embedding", "vec_id", ids, 5)))) {
      val (da, db) = (op(a), op(b))
      assert(stageCode(da).nonEmpty && stageCode(da) == stageCode(db),
        s"$name: the two batches compiled different whole-stage code")
      for ((df, ids) <- Seq((da, a), (db, b)))
        assert(!literals(df).exists(v => ids.contains(v)),
          s"$name: a query id is a literal of the executed plan")
    }
  }
}

package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Analytics, Extensions}
import graft.functions.{SimHash64, TokenHash}

/** Invariant tests for the non-oracle extension ops (SURVEY.md §5:
  * self-similarity, symmetry, determinism) plus exact-value checks for
  * the SimHash expression.
  */
class ExtensionsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
    (2L, "the quick brown fox jumps over the lazy dog again and again no"),
    (3L, "completely different words about spark query engines and scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again ok"))
    .toDF("doc_id", "text")

  test("simhash: identical docs get identical signatures") {
    val sigs = Extensions.simhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
  }

  test("simhash: near-dup hamming < distinct-doc hamming") {
    val sigs = Extensions.simhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) < hamming(sigs(1L), sigs(3L)))
  }

  test("simhash near-dup pairs find the duplicate cluster") {
    val pairs = Extensions.simhashNearDups(docs, "text", "doc_id",
      maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical docs, hamming 0
  }

  test("simhash64 and bottom_k are usable from SQL once registered") {
    GraftExtensions.register(spark)
    docs.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, simhash64(split(lower(text), ' ')) AS sig
        |FROM sql_docs ORDER BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = Extensions.simhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaApi)
    val bk = spark.sql(
      "SELECT bottom_k(doc_id, 2) FROM sql_docs").head().getSeq[Long](0)
    assert(bk == Seq(1L, 2L))
  }

  test("dedup exact keeps the min-key survivor") {
    val out = Extensions.dedupExact(docs, Seq("text"), "doc_id")
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L)) // 4 deduped into 1
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sims = Extensions.cosineVsQuery(emb, "embedding", "vec_id", 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sims(0L) - 1.0) < 1e-12)
    assert(math.abs(sims(1L)) < 1e-12)
    assert(math.abs(sims(2L) - 1.0) < 1e-12)
  }

  test("cosine top-k ranks the true nearest neighbor first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Extensions.cosineTopK(emb, "embedding", "vec_id", Seq(0L), k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.head == 1L)
  }

  test("ngram jaccard: identical docs score 1.0") {
    val pairs = Extensions.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
  }

  test("minhash near-dups surfaces the identical pair") {
    val pairs = Extensions.minhashNearDups(docs, "text", "doc_id",
      maxJaccardDist = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("text stats compute exact token arithmetic") {
    val one = Seq((1L, "ab cd ef.")).toDF("doc_id", "text")
    val r = Extensions.textStats(one, "text", "doc_id").head()
    assert(r.getAs[Int]("char_count") == 9)
    assert(r.getAs[Int]("token_count") == 3)
    assert(r.getAs[Int]("punct_count") == 1)
  }

  test("lang id picks the stopword-matching language") {
    val d = Seq(
      (1L, "the cat and the dog of the house went to sleep"),
      (2L, "le chat et la maison est un endroit avec de la lumiere"))
      .toDF("doc_id", "text")
    val preds = Extensions.langId(d, "text", "doc_id")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(preds(1L) == "en")
    assert(preds(2L) == "fr")
  }

  test("the corpus's lang label is uncorrelated with its text (all " +
      "labels draw one shared vocabulary) — the documented reason " +
      "langId stays a fixture-tested toy instead of a measured model") {
    // If the labels were learnable, per-language vocabularies would
    // separate; instead every language's token set is essentially the
    // same shared pool, so NO content-based ID can beat the base rate
    // on this synthetic corpus. Pinning the corpus fact keeps the
    // 'documented toy' status honest and alarms if a future testdata
    // generator starts emitting real per-language text — at which
    // point langId should be upgraded and measured for real.
    val labeled = graft.engine.Tables.documents(spark,
      "/root/testdata/sf0.001")
    val vocabByLang = labeled
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("tok"))
      .distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet)
      .toMap
    assert(vocabByLang.size == 5)
    val langs = vocabByLang.keys.toSeq
    val overlaps = for (a <- langs; b <- langs if a < b) yield {
      val (va, vb) = (vocabByLang(a), vocabByLang(b))
      (va & vb).size.toDouble / (va | vb).size
    }
    assert(overlaps.forall(_ > 0.9),
      s"per-language vocabularies separate (min overlap " +
        s"${overlaps.min}) — labels became learnable; upgrade langId " +
        "and measure it instead of keeping the toy")
  }

  test("tfidf top terms rank by true tf*ln(N/df), term tiebreak") {
    val d = Seq(
      (1L, "apple apple cherry cherry cherry"),
      (2L, "banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val rows = Extensions.tfidfTopTerms(d, "text", "doc_id", k = 2)
      .select("doc_id", "term", "tf", "df", "tfidf", "term_rank")
      .as[(Long, String, Long, Long, Double, Int)].collect()
    val top = rows.groupBy(_._1).map { case (id, rs) =>
      id -> rs.sortBy(_._6).map(_._2).toSeq }
    // N=3. doc 1: apple 2*ln(3/1)=2.197 BEATS cherry 3*ln(3/3)=0 — the
    // exact case where raw top-tf (cherry, tf=3) is NOT tf-idf
    assert(top(1L) == Seq("apple", "cherry"))
    // doc 2: banana ln(3)=1.0986 > cherry 0
    assert(top(2L) == Seq("banana", "cherry"))
    // doc 3: date ln(3) > cherry 0
    assert(top(3L) == Seq("date", "cherry"))
    val scores = rows.map(r => (r._1, r._2) -> r._5).toMap
    // score is rounded to 6 decimals before ranking (Spark round =
    // decimal-string HALF_UP)
    val expected = java.math.BigDecimal.valueOf(2 * math.log(3.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(scores((1L, "apple")) == expected)
    assert(scores((1L, "cherry")) == 0.0)
  }

  test("bigram stats count corpus frequency and rarity exactly") {
    val d = Seq(
      (1L, "a b a b"),   // bigrams: "a b", "b a", "a b"
      (2L, "a b c"),     // bigrams: "a b", "b c"
      (3L, "x"))         // no bigrams — must drop from output
    .toDF("doc_id", "text")
    val r = Extensions.bigramStats(d, "text", "doc_id", rareBelow = 2L)
      .select("doc_id", "n_bigrams", "n_distinct", "avg_bigram_freq",
        "n_rare")
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(t => t._1 -> t).toMap
    // corpus freq: "a b" -> 3, "b a" -> 1, "b c" -> 1
    assert(r(1L) == ((1L, 3L, 2L, (3 + 1 + 3) / 3.0, 1L)))
    assert(r(2L) == ((2L, 2L, 2L, (3 + 1) / 2.0, 1L)))
    assert(!r.contains(3L))
  }

  test("fuzzy dedup pipeline: LSH candidates rescored exactly") {
    val pairs = Extensions.fuzzyDedupPairs(docs, "text", "doc_id",
      maxHamming = 16, n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) == 1.0)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("dsir: target-language docs outscore the rest, exactly across partitionings") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Extensions.dsirWeights(corpus, "text", "doc_id",
      isTarget = col("lang") === "en")
    val byDoc = w.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val langs = corpus.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    val enMean = mean(byDoc.collect { case (id, s) if langs(id) == "en" => s })
    val restMean = mean(byDoc.collect { case (id, s) if langs(id) != "en" => s })
    // the operator's purpose: documents resembling the target
    // distribution carry higher importance weights
    assert(enMean > restMean, s"en=$enMean rest=$restMean")
    // exact integer path: identical to the last bit across partitionings
    val reparted = Extensions.dsirWeights(corpus.repartition(7), "text",
        "doc_id", isTarget = col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(reparted == byDoc)
  }

  test("hll: registers merge by max — split-union estimate == whole-corpus") {
    // the property that makes the sketch 100 TB-able: per-segment
    // register tables (256 rows each) union + max into the exact
    // whole-corpus registers, so estimates never need the raw rows again
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.01")
      .select("l_returnflag", "l_partkey")
    val whole = Extensions.hllDistinct(li, "l_returnflag", "l_partkey")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val half1 = Extensions.hllRegisters(
      li.filter(pmod(col("l_partkey"), lit(2)) === 0),
      "l_returnflag", "l_partkey")
    val half2 = Extensions.hllRegisters(
      li.filter(pmod(col("l_partkey"), lit(2)) === 1),
      "l_returnflag", "l_partkey")
    val merged = half1.unionByName(half2)
      .groupBy("l_returnflag", "bucket").agg(max("rho").as("rho"))
    val viaMerge = Extensions.hllEstimateFromRegisters(merged, "l_returnflag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMerge == whole)
  }

  test("hll: estimate within the expected error band of the exact count") {
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val est = Extensions.hllDistinct(li, "l_returnflag", "l_partkey")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (flag, n) =>
      // 1.04/sqrt(256) = 6.5% standard error; allow 3 sigma
      assert(math.abs(est(flag) - n).toDouble / n < 0.20,
        s"$flag: est=${est(flag)} exact=$n")
    }
  }

  test("simhash banding is lossless at maxHamming = numBands - 1") {
    // pigeonhole: with 4 bands, a pair at hamming <= 3 must share at
    // least one unchanged band — so the banded join finds EXACTLY the
    // pairs the all-pairs brute force finds, for both signature forms
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    def brute(sigs: org.apache.spark.sql.DataFrame, h: Int) = {
      val rows = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
      (for {
        (ia, sa) <- rows; (ib, sb) <- rows
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= h
      } yield (ia, ib)).toSet
    }
    val bandedMd5 = Extensions.simhashNearDups(corpus, "text", "doc_id",
        maxHamming = 3, numBands = 4, hash = TokenHash.Md5_60)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bandedMd5 == brute(Extensions.simhashSignatures(corpus, "text",
      "doc_id", TokenHash.Md5_60), 3))
    val bandedNative = Extensions.simhashNearDups(corpus, "text", "doc_id",
        maxHamming = 3, numBands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bandedNative == brute(
      Extensions.simhashSignatures(corpus, "text", "doc_id"), 3))
    assert(bandedMd5.nonEmpty || bandedNative.nonEmpty)
  }

  test("SimHash64 over Md5_60 equals the r17 HOF vote fold bit for bit, " +
      "interpreted and generated") {
    // the interpreted form the kernel replaced, verbatim: per token,
    // md5Hash60 votes +1/−1 into a 60-wide accumulator; a bit sets iff
    // its vote sum is positive
    val masks = typedLit((0 until 60).map(1L << _))
    def hof(toks: Column): Column = {
      val votes = aggregate(transform(toks, t => Extensions.md5Hash60(t)),
        array_repeat(lit(0L), 60),
        (acc, h) => zip_with(acc, masks, (a, m) =>
          a + when(h.bitwiseAND(m) =!= lit(0L), lit(1L)).otherwise(lit(-1L))))
      aggregate(zip_with(votes, masks, (w, m) =>
          when(w > lit(0L), m).otherwise(lit(0L))),
        lit(0L), (a, x) => a + x)
    }
    val corpus = graft.engine.Tables.documents(spark,
      "/root/testdata/sf0.001")
      .select(col("doc_id"), Extensions.tokens(col("text")).as("toks"))
    val rows = corpus.select(col("doc_id"), col("toks"),
        hof(col("toks")).as("hof"),
        SimHash64.simhash64(col("toks"), TokenHash.Md5_60).as("kernel"))
      .collect()
    assert(rows.nonEmpty)
    val expr = SimHash64(SketchRefs.tokensRef, TokenHash.Md5_60)
    for (r <- rows) {
      val want = r.getLong(2)
      assert(r.getLong(3) == want, s"doc ${r.getLong(0)}: whole-stage")
      assert(SketchRefs.bothRoutes(expr, r.getSeq[String](1)) == (want, want),
        s"doc ${r.getLong(0)}: interpreted / generated")
    }
    // edge rows. A null element casts no vote in the kernel; the HOF
    // fold counted it as an all-zero hash (−1 on every bit). Tokens from
    // split() are never null, so the catalog cannot tell them apart; the
    // kernel's rule is pinned against the HOF over the non-null tokens.
    val edge = SketchRefs.edgeRows.zipWithIndex.map(_.swap).toDF("id", "toks")
      .select(col("id"), col("toks"),
        hof(filter(col("toks"), _.isNotNull)).as("hof"))
      .collect()
    for (r <- edge) {
      val want = r.getLong(2)
      assert(SketchRefs.bothRoutes(expr, r.getSeq[String](1)) == (want, want),
        s"edge ${r.getSeq[String](1)}")
    }
    assert(SketchRefs.bothRoutes(expr, Seq.empty) == (0L, 0L))
  }

  test("SimHash64 over Murmur equals the two-seed reference loop on " +
      "sf0.001 and edge rows, via SQL, interpreted and generated") {
    GraftExtensions.register(spark)
    graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("simhash_docs")
    val rows = spark.sql(
      """SELECT split(lower(text), ' ') AS toks,
        |       simhash64(split(lower(text), ' ')) AS sig
        |FROM simhash_docs""".stripMargin).collect()
    assert(rows.nonEmpty)
    val expr = SimHash64(SketchRefs.tokensRef)
    for (r <- rows) {
      val toks = r.getSeq[String](0)
      val want = SketchRefs.simhashMurmur(toks)
      assert(r.getLong(1) == want, s"$toks: SQL")
      assert(SketchRefs.bothRoutes(expr, toks) == (want, want), s"$toks")
    }
    for (toks <- SketchRefs.edgeRows) {
      val want = SketchRefs.simhashMurmur(toks)
      assert(SketchRefs.bothRoutes(expr, toks) == (want, want), s"$toks")
      assert(SimHash64.eval(SketchRefs.arrayData(toks)) == want)
    }
  }

  test("fuzzy dedup: candidate-first plan matches corpus-wide rescoring") {
    // the scale-safe form (prune to candidates BEFORE the shingle join)
    // must produce exactly the pairs+scores of the naive reference form
    // (score everything, then intersect with candidates)
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 200)
    val fast = Extensions.fuzzyDedupPairs(corpus, "text", "doc_id",
      maxHamming = 16, n = 3, minJaccard = 0.3)
    val cands = Extensions.simhashNearDups(corpus, "text", "doc_id", 16, 8)
      .select("id_a", "id_b")
    val naive = cands.join(
        Extensions.ngramJaccardPairs(corpus, "text", "doc_id", 3,
          minJaccard = 0.0),
        Seq("id_a", "id_b"))
      .filter(col("jaccard") >= 0.3)
    assert(keyed(fast) == keyed(naive))
    assert(keyed(fast).nonEmpty) // the synthetic corpus is self-similar
  }

  test("fuzzy dedup: df-cap drops stop-shingles from the score space") {
    // a no-op cap (larger than any df) changes nothing...
    val base = Extensions.fuzzyDedupPairs(docs, "text", "doc_id",
      maxHamming = 16, minJaccard = 0.5, maxShingleDf = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(base.contains((1L, 4L)) && base((1L, 4L)) == 1.0)
    // ...while a tight cap removes corpus-wide shingles but keeps the
    // identical pair (its shingles all have df<=3 here) at jaccard 1.0
    val capped = Extensions.fuzzyDedupPairs(docs, "text", "doc_id",
      maxHamming = 16, minJaccard = 0.5, maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(capped.contains((1L, 4L)) && capped((1L, 4L)) == 1.0)
  }

  test("incremental exact dedup: corpus hits drop, batch dups keep min id") {
    val corpus = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val out = Extensions.dedupIncremental(batch, corpus, Seq("text"), "doc_id")
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    // "alpha" already in corpus → dropped; "gamma" twice → min id survives
    assert(out == Set((11L, "gamma")))
  }

  test("incremental exact dedup: shared-lineage snapshots resolve cleanly") {
    val all = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Extensions.dedupIncremental(
      all.filter(col("doc_id") >= 250), all.filter(col("doc_id") < 250),
      Seq("text"), "doc_id")
    // survivors are a subset of the batch, exact-deduped within it
    val ids = out.select("doc_id").as[Long].collect()
    assert(ids.forall(_ >= 250) && ids.nonEmpty)
    assert(ids.length == ids.distinct.length)
    val texts = out.select("text").as[String].collect()
    assert(texts.length == texts.distinct.length)
  }

  test("incremental near-dup equals the union self-join on cross pairs") {
    val all = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 120)
    val corpus = all.filter(col("doc_id") < 60)
    val batch = all.filter(col("doc_id") >= 60)
    val store = Extensions.minhashSignatureStore(corpus, "text", "doc_id")
    val inc = Extensions.minhashNearDupsIncremental(batch, "text", "doc_id",
        store, maxJaccardDist = 0.8)
      .select("new_id", "corpus_id", "jaccard_dist")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // the same seed over the union reports exactly the same cross pairs
    val full = Extensions.minhashNearDups(all, "text", "doc_id",
        maxJaccardDist = 0.8)
      .select("id_a", "id_b", "jaccard_dist")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => a < 60 && b >= 60 }
      .map { case (a, b, j) => (b, a) -> j }.toMap
    assert(inc == full)
    assert(inc.nonEmpty) // the synthetic corpus is self-similar
  }

  test("bm25 topk: shorter doc outranks longer at equal tf; k cuts") {
    val d = Seq(
      (1L, "b a a"),   // dl=3, tf(b)=1
      (2L, "b c"),     // dl=2, tf(b)=1 — shorter, must outrank doc 1
      (3L, "c c c"))   // no 'b' — never scored for the query
      .toDF("doc_id", "text")
    val q = Seq((0L, "b")).toDF("query_id", "query_text")
    val rows = Extensions.bm25TopK(d, "text", "doc_id", q, "query_text",
      "query_id", k = 10)
      .select("query_id", "doc_id", "bm25", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(rows.map(r => (r._2, r._4)).toSeq == Seq((2L, 1), (1L, 2)))
    // exact value, mirroring the operator's arithmetic: N=3, df(b)=2,
    // avgdl=8/3; contribution rounded to integer micro-units then /1e6
    def score(tf: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (3L - 2L + 0.5) / (2L + 0.5))
      val f = (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (8L / 3L.toDouble)))
      java.math.BigDecimal.valueOf(idf * f * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue / 1000000.0
    }
    assert(rows.find(_._2 == 2L).get._3 == score(1, 2))
    assert(rows.find(_._2 == 1L).get._3 == score(1, 3))
  }

  test("bm25 topk: multi-term scores are exact integer sums of contributions") {
    val corpus = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val q = Seq((0L, "fast hash join"), (1L, "join join")).toDF(
      "query_id", "query_text")
    val out = Extensions.bm25TopK(corpus, "text", "doc_id", q, "query_text",
      "query_id", k = 5)
      .select("query_id", "doc_id", "bm25", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(out.count(_._1 == 0L) == 5 && out.count(_._1 == 1L) == 5)
    // scores are multiples of 1e-6 (integer micro-unit accumulation)
    out.foreach { r =>
      assert(math.abs(r._3 * 1e6 - math.rint(r._3 * 1e6)) < 1e-7) }
    // duplicate query terms are set-distinct: "join join" ≡ "join"
    val qj = Seq((9L, "join")).toDF("query_id", "query_text")
    val single = Extensions.bm25TopK(corpus, "text", "doc_id", qj,
      "query_text", "query_id", k = 5)
      .select("doc_id", "bm25").as[(Long, Double)].collect().toSet
    assert(out.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet == single)
  }

  test("cosine near-dups find parallel vectors only") {
    val emb = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val pairs = Extensions.cosineNearDups(emb, "embedding", "vec_id", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("cosineNearDupsBlocked equals the exact all-pairs form on real " +
      "embeddings at several thresholds and never cross-joins") {
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def exact(t: Double) = Extensions
      .cosineNearDups(emb, "embedding", "vec_id", t)
      .as[(Long, Long, Double)].collect().toSet
    def blocked(t: Double, cells: Int, seed: Long) = Extensions
      .cosineNearDupsBlocked(emb, "embedding", "vec_id", t, cells, seed)
      .as[(Long, Long, Double)].collect().toSet
    // recall-1 is a THEOREM (triangle inequality), not a tuning
    // outcome: equality must hold across thresholds, cell counts, seeds
    for (t <- Seq(0.3, 0.45)) assert(blocked(t, 16, 42L) == exact(t))
    assert(blocked(0.3, 5, 7L) == exact(0.3))
    // ...and across the QUANTIZER swap: 64 cells crosses the tree
    // threshold (two-level fit + tree assignment) — the law is proven
    // for ANY clustering, so the r15 scale path must leave the pair
    // set bit-identical
    for (t <- Seq(0.3, 0.45)) assert(blocked(t, 64, 42L) == exact(t))
    // and the plan must block, not cross join (the exact form's shape)
    val plan = Extensions
      .cosineNearDupsBlocked(emb, "embedding", "vec_id", 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "blocked plan must not contain a cartesian product")
    // zero-norm rows never pair (the exact form's convention)
    val withZero = Seq((900L, Array(0.0f, 0.0f)), (901L, Array(1.0f, 0.0f)),
      (902L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Extensions.cosineNearDupsBlocked(withZero, "embedding", "vec_id",
        0.5, nCells = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      == Set((901L, 902L)))
    // degenerate corpora return the typed empty result, never crash:
    // all-zero (nothing survives the norm filter) and single-row
    // (k capped at the 1-point fit set; no pairs exist)
    val allZero = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val z = Extensions.cosineNearDupsBlocked(allZero, "embedding",
      "vec_id", 0.5)
    assert(z.columns.toSeq == Seq("id_a", "id_b", "cosine_sim") &&
      z.count() == 0)
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Extensions.cosineNearDupsBlocked(one, "embedding", "vec_id",
      0.5).count() == 0)
  }

  test("spanDedup: cross-doc repeated windows merge into maximal " +
      "regions with exact offsets; an internally periodic doc flags " +
      "end to end; unique docs emit nothing") {
    val d = Seq(
      (1L, "a b c d e f"),            // shares [a b c] [b c d] with doc 2
      (2L, "x a b c d y"),
      (3L, "p q r s p q r s p q r"),  // period-4: every window repeats
      (4L, "u v w")                   // unique (and shorter than n)
    ).toDF("doc_id", "text")
    val out = Extensions.spanDedup(d, "text", "doc_id", n = 3, minDf = 2L)
      .orderBy("doc_id", "span_start")
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0, 4, 2L),   // windows at 0,1 -> tokens [0,4)
      (2L, 1, 5, 2L),   // windows at 1,2 -> tokens [1,5)
      (3L, 0, 11, 9L))) // all 9 windows flag -> the whole 11-token doc
    // regions farther apart than n stay separate: the shared phrase
    // sits at both ends of a long unique middle
    val far = Seq(
      (5L, "k l m 1 2 3 4 5 6 7 8 9 k l m"),
      (6L, "k l m z z")).toDF("doc_id", "text")
    val gaps = Extensions.spanDedup(far, "text", "doc_id", n = 3,
        minDf = 2L)
      .orderBy("doc_id", "span_start")
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(gaps == Seq((5L, 0, 3, 1L), (5L, 12, 15, 1L), (6L, 0, 3, 1L)))
  }

  test("sequencePack: docs straddle bin boundaries with exact slice " +
      "arithmetic; bins fill to capacity; zero-length docs vanish; " +
      "groups pack independently") {
    val d = Seq(
      ("a", 1L, 5L), ("a", 2L, 3L), ("a", 3L, 0L), ("a", 4L, 9L),
      ("b", 1L, 12L)).toDF("src", "id", "len")
    val out = Extensions.sequencePack(d, "src", "id", "len", capacity = 8L)
      .orderBy("src", "bin_id", "id")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // stream a: doc1 [0,5) doc2 [5,8) doc4 [8,17); doc3 len 0 -> gone
    // stream b: doc1 [0,12) -> bins 0 and 1
    assert(out == Seq(
      ("a", 0L, 1L, 0L, 0L, 5L),   // doc1 fully in bin 0 at offset 0
      ("a", 0L, 2L, 0L, 5L, 3L),   // doc2 fills bin 0 to capacity
      ("a", 1L, 4L, 0L, 0L, 8L),   // doc4 first 8 tokens fill bin 1
      ("a", 2L, 4L, 8L, 0L, 1L),   // doc4 last token starts bin 2
      ("b", 0L, 1L, 0L, 0L, 8L),   // group b packs from its own zero
      ("b", 1L, 1L, 8L, 0L, 4L)))
    // invariants on real data: per-bin fill == capacity except each
    // group's last bin; slice lens per doc sum to the doc's length
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    val packed = Extensions.sequencePack(docs, "source", "doc_id",
      "n_chars", capacity = 4096L)
    val fills = packed.groupBy("source", "bin_id")
      .agg(sum("slice_len").as("fill"))
    val lastBins = fills.groupBy("source").agg(max("bin_id").as("last"))
    val nonLast = fills.join(lastBins, "source")
      .filter(col("bin_id") < col("last"))
    assert(nonLast.filter(col("fill") =!= 4096L).count() == 0,
      "every non-final bin must fill to capacity exactly")
    val perDoc = packed.groupBy("doc_id").agg(sum("slice_len").as("tot"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    assert(perDoc.filter(col("tot") =!= col("n_chars")).count() == 0,
      "doc slices must reassemble to the full doc")
  }

  test("pqQuantize: vectors drawn from a small codebook reconstruct " +
      "exactly; codes are m-long, k-bounded, deterministic; more " +
      "codewords never reconstruct worse on real embeddings") {
    // 4-dim vectors, m=2 subspaces; each subvector one of 2 prototypes
    // -> k=2 per subspace can encode losslessly
    val protos = Seq(Array(1.0f, 2.0f), Array(-3.0f, 0.5f))
    val rows = (0 until 40).map { i =>
      (i.toLong, protos(i % 2) ++ protos((i / 2) % 2))
    }
    val d = rows.toDF("vec_id", "embedding")
    val out = Extensions.pqQuantize(d, "embedding", "vec_id", m = 2, k = 2)
      .as[(Long, Seq[Int], Double)].collect().toSeq.sortBy(_._1)
    assert(out.forall(_._3 == 0.0), "codebook data must reconstruct exactly")
    assert(out.forall(r => r._2.size == 2 && r._2.forall(c => c >= 0 && c < 2)))
    // identical subvectors always get identical codes
    val byFirstProto = out.groupBy(r => (r._1 % 2, r._2.head))
    assert(byFirstProto.size == 2, "same subvector -> same code")
    // determinism
    val again = Extensions.pqQuantize(d, "embedding", "vec_id", m = 2, k = 2)
      .as[(Long, Seq[Int], Double)].collect().toSeq.sortBy(_._1)
    assert(again == out)
    // monotonicity on real embeddings: mean recon_mse(k=8) <= k=2
    val emb = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def meanMse(kk: Int): Double = Extensions
      .pqQuantize(emb, "embedding", "vec_id", m = 4, k = kk)
      .agg(avg("recon_mse")).as[Double].head()
    assert(meanMse(8) <= meanMse(2),
      "more codewords must not reconstruct worse")
    // degenerate corpora: empty input returns the typed empty frame;
    // a corpus smaller than k caps the codebook and reconstructs
    // exactly (every point is its own codeword)
    val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = Extensions.pqQuantize(none, "embedding", "vec_id")
    assert(e.columns.toSeq == Seq("vec_id", "codes", "recon_mse") &&
      e.count() == 0)
    val tiny = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(5.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val t = Extensions.pqQuantize(tiny, "embedding", "vec_id", m = 1, k = 16)
      .as[(Long, Seq[Int], Double)].collect()
    assert(t.length == 2 && t.forall(_._3 == 0.0))
  }

  test("pqQuantize/pqTopK: a constant (degenerate) subspace exhausts " +
      "kmeans++ early yet still yields a rectangular codebook — codes " +
      "valid, constant dims reconstruct exactly") {
    // subspace 0 has many distinct subvectors (fills k); subspace 1 is
    // CONSTANT (zero-padded-dim shape) -> its kmeans++ stops at one
    // center and must be padded, not returned ragged (ADVICE r11)
    val rows = (0 until 64).map { i =>
      (i.toLong, Array(i.toFloat, (i * 7 % 13).toFloat, 0f, 0f))
    }
    val d = rows.toDF("vec_id", "embedding")
    val out = Extensions.pqQuantize(d, "embedding", "vec_id", m = 2, k = 8)
      .as[(Long, Seq[Int], Double)].collect().toSeq.sortBy(_._1)
    assert(out.size == 64)
    assert(out.forall(r => r._2.size == 2 && r._2.forall(_ >= 0)))
    // every row's constant subvector gets the SAME code (center 0)
    assert(out.map(_._2(1)).distinct == Seq(0))
    val topk = Extensions.pqTopK(d, "embedding", "vec_id",
      queryIds = Seq(0L, 1L), k = 5, m = 2, kCode = 8)
    assert(topk.count() > 0)
  }

  test("pqTopK: on codebook-exact data ADC distances EQUAL exact L2 " +
      "and the ranking matches brute force; self excluded; rank dense") {
    // 4-dim vectors from 2 prototypes per 2-dim subspace (as the
    // pqQuantize spec): recon is exact, so adc == exact L2 squared
    val protos = Seq(Array(1.0f, 2.0f), Array(-3.0f, 0.5f))
    val rows = (0 until 12).map { i =>
      (i.toLong, protos(i % 2) ++ protos((i / 2) % 2))
    }
    val d = rows.toDF("vec_id", "embedding")
    val out = Extensions.pqTopK(d, "embedding", "vec_id",
        queryIds = Seq(0L, 3L), k = 5, m = 2, kCode = 2)
      .as[(Long, Long, Double, Int)].collect().toSeq
    def l2sq(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    val byId = rows.toMap
    for ((q, n, adc, _) <- out) {
      assert(n != q, "self must be excluded")
      assert(math.abs(adc - l2sq(byId(q), byId(n))) < 1e-9,
        s"ADC must equal exact L2² on codebook-exact data: $q->$n")
    }
    // ranking law vs brute force (ties break to lower neighbor id)
    for (q <- Seq(0L, 3L)) {
      val got = out.filter(_._1 == q).sortBy(_._4).map(_._2)
      val exp = rows.filter(_._1 != q)
        .map { case (n, v) => (l2sq(byId(q), v), n) }
        .sorted.take(5).map(_._2)
      assert(got == exp, s"query $q ranking diverged")
      assert(out.filter(_._1 == q).map(_._4).sorted == (1 to 5).toList)
    }
  }

  test("fingerprints: identical docs identical, k-bounded, deterministic") {
    val fps = Extensions.fingerprintBottomK(docs, "text", "doc_id", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L) == fps(4L))
    assert(fps(1L).size <= 4)
    assert(fps(1L) != fps(3L))
    assert(fps(1L) == fps(1L).sorted)
  }

  test("pii scrub redacts emails, phones, and digit runs") {
    val d = Seq((1L, "mail me at jo.doe+x@corp.example.org or 555-123-4567"),
      (2L, "account 123456789012 is fine but 12345678 is too short"))
      .toDF("doc_id", "text")
    val out = Extensions.piiScrub(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text_scrubbed"))
      .toMap
    assert(out(1L) == "mail me at <EMAIL> or <PHONE>")
    assert(out(2L) == "account <NUM> is fine but 12345678 is too short")
  }

  test("contamination flags exactly the train docs sharing an n-gram") {
    val train = Seq(
      (101L, "alpha beta gamma delta epsilon"), // contains eval 3-gram
      (102L, "totally unrelated words here now"))
      .toDF("doc_id", "text")
    val eval = Seq((1L, "x y alpha beta gamma z")).toDF("doc_id", "text")
    val flags = Extensions.contaminationFlags(train, eval, "text", "doc_id",
      n = 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(flags(101L) == 1)
    assert(flags(102L) == 0)
  }

  test("repetition stats: repeated trigrams raise the ratio") {
    val d = Seq(
      (1L, "a b c a b c a b c"), // trigram "a b c" repeats
      (2L, "one two three four five six"))
      .toDF("doc_id", "text")
    val out = Extensions.repetitionStats(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == 7 && out(1L)._2 < 7 && out(1L)._3 > 0.0)
    assert(out(2L)._3 == 0.0) // all distinct
  }

  test("curate corpus: dedups, drops junk, scrubs, splits — in one pass") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then rests " +
        "quietly in the warm afternoon sun near the old farm house"),
      (2L, "the quick brown fox jumps over the lazy dog and then rests " +
        "quietly in the warm afternoon sun near the old farm house"), // dup of 1
      (3L, "!!! ??? ... ,,, !!!"), // punctuation junk → low quality
      (4L, "reach me at someone@example.net about the meeting and the " +
        "plans for the next quarter of the year with all of the team"))
      .toDF("doc_id", "text")
    val out = Extensions.curateCorpus(corpus, "text", "doc_id",
      minQuality = 0.3)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 4L)) // 2 deduped away, 3 quality-dropped
    assert(rows(4L).getAs[String]("text_scrubbed").contains("<EMAIL>"))
    assert(rows(4L).getAs[Int]("chars_redacted") > 0)
    assert(Set(0, 1).contains(rows(1L).getAs[Int]("is_train")))
  }

  test("stratified sample keeps the NULL stratum (null-safe join keys)") {
    val rows = (1L to 40L).map(i =>
      (if (i % 4 == 0) null else s"s${i % 2}", i))
    val df = rows.toDF("stratum", "key")
    val out = Extensions.stratifiedSample(df, "stratum", "key", 0.5)
    val nullCount = out.filter(col("stratum").isNull).count()
    assert(nullCount == 5) // ceil(10 * 0.5) of the 10 null-stratum rows
    // strata: null=10 (i%4==0), s1=20 (odd i), s0=10 (even, not %4)
    assert(out.count() == 5 + 10 + 5)
  }

  test("mixCorpus keeps exact per-stratum fractions with a default tail") {
    val rows = (1L to 60L).map(i => (s"s${i % 3}", i)) // 20 per stratum
    val df = rows.toDF("source", "key")
    val out = Extensions.mixCorpus(df, "source", "key",
      Map("s0" -> 0.5, "s1" -> 0.25), defaultFraction = 0.1)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("s0" -> 10L, "s1" -> 5L, "s2" -> 2L))
    // same stratum+fraction → identical selection as stratifiedSample
    val viaSs = Extensions.stratifiedSample(
      df.filter(col("source") === "s0"), "source", "key", 0.5)
      .collect().map(_.getLong(1)).toSet
    val viaMix = out.filter(col("source") === "s0")
      .collect().map(_.getLong(1)).toSet
    assert(viaSs == viaMix)
  }

  test("chunkForTraining matches the single-window cumsum exactly") {
    val rows = (1L to 500L).map(i => (i, (i % 37 + 1).toInt))
    val df = rows.toDF("key", "n_tok")
    val out = Extensions.chunkForTraining(df, "key", "n_tok", ctxLen = 64)
      .collect().map(r => r.getAs[Long]("key") ->
        (r.getAs[Long]("start_off"), r.getAs[Long]("first_chunk"),
          r.getAs[Long]("last_chunk"))).toMap
    var off = 0L
    rows.foreach { case (k, n) =>
      assert(out(k) == (off, off / 64, (off + n - 1) / 64), s"key $k")
      off += n
    }
    // spans are contiguous: every chunk id up to the last appears
    val lastChunk = out(500L)._3
    val covered = out.values.flatMap(v => v._2 to v._3).toSet
    assert(covered == (0L to lastChunk).toSet)
  }

  test("chunkForTraining handles a single-key corpus (degenerate range)") {
    val df = Seq((7L, 100)).toDF("key", "n_tok")
    val r = Extensions.chunkForTraining(df, "key", "n_tok", ctxLen = 30)
      .head()
    assert(r.getAs[Long]("start_off") == 0L)
    assert(r.getAs[Long]("first_chunk") == 0L)
    assert(r.getAs[Long]("last_chunk") == 3L) // tokens 0..99 → chunks 0..3
  }

  test("cmsEstimates honors the CMS overcount bound vs exact counts") {
    val docs = graft.engine.Tables.documents(TestSpark.spark,
      "/root/testdata/sf0.001")
    val toks = docs.select(explode(Extensions.tokens(col("text"))).as("t"))
    val n = toks.count()
    val probes = Seq("the", "of", "and", "data", "model")
    val exact = toks.filter(col("t").isin(probes: _*))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // never undercount; overcount within the CMS bound e·N/width
    val width = 1 << 14
    val est = Extensions.cmsEstimates(docs, "text", probes, width = width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (p <- probes) {
      val ex = exact.getOrElse(p, 0L)
      assert(est(p) >= ex, s"$p: CMS must never undercount")
      assert(est(p) <= ex + (math.E * n / width).ceil.toLong,
        s"$p: ${est(p)} exceeds the e*N/width overcount bound over $ex")
    }
    // partition-invariant
    val estRe = Extensions.cmsEstimates(docs.repartition(7), "text",
      probes).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estRe == est)
    // an absent token estimates 0 unless every row collides
    val ghost = Extensions.cmsEstimates(docs, "text",
      Seq("zz_never_in_corpus_zz"), width = 1 << 16)
      .collect().head.getLong(1)
    assert(ghost >= 0L && ghost <= (0.01 * n).ceil.toLong)
  }

  test("cdcChunks: chunks partition the doc contiguously, boundaries " +
      "are content-local (an insertion changes only its own chunk — " +
      "later chunks shift but keep their hashes), and the plan has " +
      "no exchange") {
    val rnd = new scala.util.Random(3L)
    val words = (0 until 400).map(_ => s"w${rnd.nextInt(500)}")
    val doc = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val out = Extensions.cdcChunks(doc, "text", "doc_id", avgLen = 16)
      .orderBy("chunk_idx").collect()
    // contiguous partition of the token stream
    assert(out.map(_.getAs[Int]("n_tokens")).sum == 400)
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Int]("start_tok") ==
          a.getAs[Int]("start_tok") + a.getAs[Int]("n_tokens"))
      case _ =>
    }
    assert(out.head.getAs[Int]("start_tok") == 1)
    assert(out.length > 5, "expected several chunks at avgLen=16")
    // EDIT STABILITY: insert 3 tokens mid-doc; chunks before the edit
    // keep (start, hash); chunks after keep their hashes with starts
    // shifted by exactly +3 — only the edited chunk's neighborhood
    // re-chunks. (Fixed-width chunking would shift EVERY later
    // boundary and invalidate every later hash.)
    val editPos = 200
    val edited = (words.take(editPos) ++ Seq("INS1", "INS2", "INS3") ++
      words.drop(editPos)).mkString(" ")
    val out2 = Extensions.cdcChunks(
        Seq((1L, edited)).toDF("doc_id", "text"), "text", "doc_id",
        avgLen = 16)
      .orderBy("chunk_idx").collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Int]("start_tok"), r.getAs[Long]("chunk_hash"))
    val before = out.filter(r => r.getAs[Int]("start_tok") +
      r.getAs[Int]("n_tokens") - 1 < editPos).map(key).toSeq
    val before2 = out2.take(before.length).map(key).toSeq
    assert(before2 == before, "pre-edit chunks must be bit-identical")
    val after = out.filter(_.getAs[Int]("start_tok") > editPos)
      .map(r => (r.getAs[Int]("start_tok") + 3,
        r.getAs[Long]("chunk_hash"))).toSet
    val after2 = out2.map(key).toSet
    // every post-edit chunk of the original reappears, shifted +3
    // (the edited chunk itself may split/merge — everything else holds)
    val missing = after -- after2
    assert(missing.isEmpty,
      s"post-edit chunks drifted: ${missing.take(3)}")
    // map-only: no exchange anywhere in the plan
    val df = Extensions.cdcChunks(doc, "text", "doc_id", avgLen = 16)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"cdcChunks must be map-only:\n$plan")
  }

  test("dedupBest keeps the highest-quality row of each dupe group") {
    val df = Seq(
      (1L, "aaa", 10), (2L, "aaa", 30), (3L, "aaa", 30), // group: max q, tie -> min id
      (4L, "bbb", 5),                                    // singleton
      (5L, "ccc", 7), (6L, "ccc", 2))
      .toDF("doc_id", "canon", "quality")
    val out = Extensions.dedupBest(df, Seq("canon"), "doc_id", "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 4L, 5L))
  }

  test("shuffleDeterministic emits a permutation, stable across partitionings") {
    val df = (0L until 300L).toDF("id")
    val a = Extensions.shuffleDeterministic(df, "id")
      .select("id", "shuffle_pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a.values.toSeq.sorted == (0L until 300L))
    val b = Extensions.shuffleDeterministic(df.repartition(7), "id")
      .select("id", "shuffle_pos")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("dedup/sample reject inputs using reserved internal columns") {
    val clash = Seq((1L, "a", 0)).toDF("doc_id", "text", "__rn")
    intercept[IllegalArgumentException] {
      Extensions.dedupExact(clash, Seq("text"), "doc_id")
    }
    val clash2 = Seq(("s", 1L, 0)).toDF("stratum", "key", "__off")
    intercept[IllegalArgumentException] {
      Extensions.stratifiedSample(clash2, "stratum", "key", 0.5)
    }
  }

  test("ivf ann achieves high recall vs brute force on the testdata") {
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.001")
    val exact = Extensions.cosineTopK(emb, "embedding", "vec_id",
      Seq(0L), k = 10).select("neighbor_id").as[Long].collect().toSet
    val ivf = Extensions.annIvf(emb, "embedding", "vec_id", Seq(0L),
      k = 10, nCells = 8, nprobe = 4)
      .select("neighbor_id").as[Long].collect().toSet
    // probing half the cells should recover most true neighbors
    assert(ivf.intersect(exact).size >= 5,
      s"recall too low: ${ivf.intersect(exact).size}/10")
  }

  test("bucketed ann achieves decent recall vs brute force on the testdata") {
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.001")
    // nearest-by-cosine and nearest-by-L2 agree enough on this corpus to
    // measure recall of the L2-ranked LSH against the cosine oracle
    val exact = Extensions.cosineTopK(emb, "embedding", "vec_id",
      Seq(0L), k = 10).select("neighbor_id").as[Long].collect().toSet
    val lsh = Extensions.annBucketed(emb, "embedding", "vec_id", Seq(0L),
      k = 10).select("neighbor_id").as[Long].collect().toSet
    assert(lsh.intersect(exact).size >= 5,
      s"recall too low: ${lsh.intersect(exact).size}/10")
  }

  test("graded recall law: mean recall@10 over 20 queries at sf0.01 " +
      "stays above the pinned floor for annIvf and annBucketed") {
    // VERDICT r8 #7: the parity/shape asserts alone would not catch a
    // silent degradation in bucketing quality (e.g. a broken hyperplane
    // seed or a centroid-assignment bug that still returns k rows).
    // Everything here is seeded and deterministic, so measured recall is
    // a constant of the code+testdata and a floor just below it is a
    // real regression tripwire, not a flake.
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.01")
    val qids = (0L until 20L).toSeq
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = sets(Extensions.cosineTopK(
      emb, "embedding", "vec_id", qids, k = 10))
    def meanRecall(approx: Map[Long, Set[Long]]): Double =
      qids.map(q => approx.getOrElse(q, Set.empty[Long])
        .intersect(exact(q)).size / 10.0).sum / qids.size
    // catalog-default parameters for both approximate paths
    val rIvf = meanRecall(sets(Extensions.annIvf(
      emb, "embedding", "vec_id", qids, k = 10)))
    val rLsh = meanRecall(sets(Extensions.annBucketed(
      emb, "embedding", "vec_id", qids, k = 10)))
    info(f"annIvf mean recall@10 = $rIvf%.3f, annBucketed = $rLsh%.3f")
    // floors sit just under the measured values (ivf 0.515, lsh 0.410
    // on the round-9 testdata) with slack for a regenerated-testdata
    // shift; annBucketed ranks by L2 against a cosine oracle, so its
    // ceiling is below 1 even with perfect buckets
    assert(rIvf >= 0.45, f"annIvf mean recall@10 regressed: $rIvf%.3f")
    assert(rLsh >= 0.35, f"annBucketed mean recall@10 regressed: $rLsh%.3f")
  }

  test("ivfPqTopK with exhaustive parameters (all cells probed, " +
      "shortlist covers the corpus) equals exact L2 top-k") {
    // seeded distinct-ish vectors so L2 distances don't tie
    val rnd = new scala.util.Random(3)
    val rows = (0L until 50L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat())))
    val emb = rows.toDF("vec_id", "embedding")
    def sqDist(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val qids = Seq(0L, 7L)
    val exact = qids.map { q =>
      val qv = rows.find(_._1 == q).get._2
      q -> rows.filter(_._1 != q)
        .map { case (id, v) =>
          (id, math.rint(sqDist(v, qv) * 1e6) / 1e6) }
        .sortBy { case (id, d) => (d, id) }.take(3).map(_._1).toSeq
    }.toMap
    val got = Extensions.ivfPqTopK(emb, "embedding", "vec_id", qids,
        k = 3, nCells = 4, nprobe = 4, m = 4, kCode = 4,
        refineFactor = 20)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
    assert(got == exact, s"got $got expected $exact")
    // and it is deterministic across input partitionings
    val again = Extensions.ivfPqTopK(emb.repartition(7), "embedding",
        "vec_id", qids, k = 3, nCells = 4, nprobe = 4, m = 4,
        kCode = 4, refineFactor = 20)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSeq
    assert(again.groupBy(_._1).map { case (q, ns) =>
      q -> ns.map(_._2).toSeq } == exact)
  }

  test("ivfPqTopK catalog-default recall@10 stays above the pinned " +
      "floor vs the exact scan at sf0.01") {
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.01")
    val qids = (0L until 20L).toSeq
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = sets(Extensions.cosineTopK(
      emb, "embedding", "vec_id", qids, k = 10))
    val got = sets(Extensions.ivfPqTopK(
      emb, "embedding", "vec_id", qids, k = 10))
    val recall = qids.map(q => got.getOrElse(q, Set.empty[Long])
      .intersect(exact(q)).size / 10.0).sum / qids.size
    info(f"ivfPqTopK mean recall@10 = $recall%.3f")
    // r11 operating point (the recall-sweep curve in BASELINE.md): measured
    // 0.92 at nprobe=8/kCode=256/refine=8; the floor sits well under
    // the seeded measured value with regeneration slack. The cosine
    // oracle is NOT a handicap here: the sweep measured L2-vs-cosine
    // top-10 agreement at 1.000 on this corpus.
    assert(recall >= 0.70, f"ivfPqTopK recall@10 regressed: $recall%.3f")
  }

  test("knnJoin with exhaustive probes equals the brute-force per-row " +
      "top-k for every row, across partitionings") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 40L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat())))
    val emb = rows.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      // mirror DotF32's sequential fold order
      for (j <- a.indices) { d += a(j).toDouble * b(j).toDouble }
      for (j <- a.indices) { na += a(j).toDouble * a(j).toDouble }
      for (j <- b.indices) { nb += b(j).toDouble * b(j).toDouble }
      if (na == 0 || nb == 0) 0.0
      else math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val exact = rows.map { case (q, qv) =>
      q -> rows.filter(_._1 != q)
        .map { case (id, v) => (id, cos(v, qv)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    }.toMap
    for (parts <- Seq(1, 7)) {
      val got = Extensions.knnJoin(emb.repartition(parts), "embedding",
          "vec_id", k = 3, nCells = 4, nprobe = 4)
        .orderBy("query_id", "rank")
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSeq }
      assert(got == exact, s"parts=$parts")
    }
  }

  test("knnJoin pruned probes keep recall above the pinned floor vs " +
      "the exhaustive join at sf0.01") {
    val emb = graft.engine.Tables.embeddings(TestSpark.spark,
      "/root/testdata/sf0.01")
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = sets(Extensions.knnJoin(emb, "embedding", "vec_id",
      k = 5, nCells = 8, nprobe = 8))
    val pruned = sets(Extensions.knnJoin(emb, "embedding", "vec_id",
      k = 5, nCells = 8, nprobe = 3))
    val qids = exact.keys.toSeq
    val recall = qids.map(q => pruned.getOrElse(q, Set.empty[Long])
      .intersect(exact(q)).size / 5.0).sum / qids.size
    info(f"knnJoin mean recall@5 (nprobe 3/8) = $recall%.3f")
    assert(recall >= 0.50, f"knnJoin pruned recall regressed: $recall%.3f")
  }

  test("ann bucketed returns ranked neighbors deterministically") {
    val emb = (0L until 50L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val a = Extensions.annBucketed(emb, "embedding", "vec_id", Seq(0L), k = 3)
      .select("neighbor_id").as[Long].collect().toSeq
    val b = Extensions.annBucketed(emb, "embedding", "vec_id", Seq(0L), k = 3)
      .select("neighbor_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.size == 3)
  }

  test("overlapChunks: stride windows cover every token, overlap by " +
      "ctxLen-stride, short and exact-fit docs yield one window, " +
      "empty docs vanish") {
    val docs = Seq((1L, 10L), (2L, 3L), (3L, 4L), (4L, 0L), (5L, 9L))
      .toDF("doc_id", "n_tok")
    val out = Extensions.overlapChunks(docs, "doc_id", "n_tok",
        ctxLen = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      // doc 1 (10 tokens): starts 0,3,6 — window 6 truncates? (6+4=10)
      (1L, 0, 0L, 4L), (1L, 1, 3L, 7L), (1L, 2, 6L, 10L),
      (2L, 0, 0L, 3L),            // shorter than ctx → one short window
      (3L, 0, 0L, 4L),            // exact fit → one window
      (5L, 0, 0L, 4L), (5L, 1, 3L, 7L), (5L, 2, 6L, 9L)))
    // coverage: every token index of doc 1 falls in ≥1 window
    val covered = out.filter(_._1 == 1L)
      .flatMap(c => c._3 until c._4).toSet
    assert(covered == (0L until 10L).toSet)
  }

  test("fuzzyJoin: blocked candidates rescored by edit distance; " +
      "edits past the block prefix match, edits inside it are missed " +
      "(documented recall trade)") {
    val l = Seq((1L, "widget"), (2L, "gadget"), (3L, "bolt"))
      .toDF("lid", "lname")
    val r = Seq((10L, "widgit"),  // 1 edit at pos 5 → same "wi" block
      (20L, "aadget"),            // 1 edit at pos 1 → DIFFERENT block
      (30L, "bolts"))             // 1 insertion → same "bo" block
      .toDF("rid", "rname")
    val out = Extensions.fuzzyJoin(l, r, "lname", "rname", "lid", "rid",
        maxDist = 1, blockLen = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(out == Set((1L, 10L, 1), (3L, 30L, 1)))
  }

  test("dedupSegments keeps the FIRST occurrence of each segment in " +
      "original order; counts are original vs unique") {
    val docs = Seq(
      (1L, "a b a c b a"),   // dups scattered — order of firsts: a b c
      (2L, "x"),             // single segment
      (3L, "")               // empty text = one empty segment
    ).toDF("doc_id", "text")
    val out = Extensions.dedupSegments(docs, "text", "doc_id", " ")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a b c", 6L, 3L),
      (2L, "x", 1L, 1L),
      (3L, "", 1L, 1L)))
  }

  test("lmPerplexity: hand-computed add-one unigram model on a tiny " +
      "corpus; exact half-up integer rounding of the entropy") {
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1; N=5 V=3 -> p(a)=p(b)=3/8, p(c)=2/8
    val lpA = math.rint(math.log(3.0 / 8) * 1e6).toLong // = lp(b)
    val lpC = math.rint(math.log(2.0 / 8) * 1e6).toLong
    def xi(s: Long, n: Long) = (2 * -s + n) / (2 * n) // div truncates
    val x1 = xi(3 * lpA, 3)
    val x2 = xi(lpA + lpC, 2)
    val out = Extensions.lmPerplexity(d, "text", "doc_id")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 3L, x1 / 1e6, math.rint(math.exp(x1 / 1e6) * 100) / 100),
      (2L, 2L, x2 / 1e6, math.rint(math.exp(x2 / 1e6) * 100) / 100)))
  }

  test("anovaF: balanced two-level fixture gives F = 8 exactly; " +
      "random fixture matches the BigInt brute force") {
    val fx = Seq(("g", "t1", 1.00), ("g", "t1", 2.00),
      ("g", "t2", 3.00), ("g", "t2", 4.00)).toDF("n", "t", "v")
    val r = Analytics.anovaF(fx, "n", "t", "v")
      .as[(String, Long, Int, Double)].head()
    assert(r == (("g", 4L, 2, 8.0)))

    val rnd = new scala.util.Random(17)
    val rows = (0 until 200).map { _ =>
      ("g", s"t${rnd.nextInt(4)}", rnd.nextInt(100000) / 100.0)
    }
    def halfUp(s: BigInt, n: BigInt): BigInt = (2 * s + n) / (2 * n)
    val cents = rows.map { case (_, t, v) =>
      (t, BigInt(math.rint(v * 100).toLong)) }
    val byT = cents.groupBy(_._1).view
      .mapValues(vs => (BigInt(vs.size), vs.map(_._2).sum)).toMap
    val mg = byT.map { case (t, (ng, sg)) =>
      t -> halfUp(1000000 * sg, ng) }
    val (n, k) = (BigInt(cents.size), BigInt(byT.size))
    val m = halfUp(1000000 * byT.values.map(_._2).sum, n)
    val ssw = cents.map { case (t, v) =>
      val dd = 1000000 * v - mg(t); dd * dd }.sum
    val ssb = byT.map { case (t, (ng, _)) =>
      val dd = mg(t) - m; ng * dd * dd }.sum
    val expF = math.rint(
      (ssb.toDouble / (k.toDouble - 1)) /
      (ssw.toDouble / (n.toDouble - k.toDouble)) * 1e6) / 1e6
    val got = Analytics.anovaF(rows.toDF("n", "t", "v"), "n", "t", "v")
      .as[(String, Long, Int, Double)].head()
    assert(got._2 == 200L && got._3 == 4)
    assert(got._4 == expF, s"got ${got._4} expected $expF")
  }

  test("dedupSegments treats regex-metacharacter separators literally") {
    val docs = Seq((1L, "ab||cd||ab||ef")).toDF("doc_id", "text")
    val out = Extensions.dedupSegments(docs, "text", "doc_id", "||")
      .orderBy("doc_id").collect().head
    assert(out.getString(1) == "ab||cd||ef")
    assert(out.getLong(2) == 4L && out.getLong(3) == 3L)
  }

  test("semanticDedup: keep-best survivor (highest quality, ties to " +
      "smallest id), singleton keeps itself, dedup domain = docs ∩ emb") {
    val rows = Seq(
      (0L, Array(1f, 0f), 100L),        // cluster {0,1}: 1 is longer
      (1L, Array(0.999f, 0.01f), 200L),
      (2L, Array(0f, 1f), 50L),         // cluster {2,3}: quality TIE
      (3L, Array(0.01f, 0.999f), 50L),  //   → min id (2) survives
      (4L, Array(-1f, 0.1f), 10L))      // singleton
    val emb = rows.toDF("id", "emb", "q").select("id", "emb")
    val docs = rows.toDF("id", "emb", "q").select("id", "q")
      // a doc with no embedding is out of the dedup domain
      .union(Seq((5L, 999L)).toDF("id", "q"))
    val out = Extensions.semanticDedup(docs, emb, "id", "q", "emb",
        minCosine = 0.9, nCells = 2)
      .orderBy("id")
      .as[(Long, Long, Long, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L)) // no id 5
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 2L, 2L, 4L)) // components
    assert(out.map(_._4).toSeq == Seq(0, 1, 1, 0, 1))      // keep flags
  }

  test("tokenPmi: hand-computed pair counts, marginals and PMI on " +
      "tiny corpora; ordering is (pmi desc, w1, w2)") {
    // "a b a b", window 1: pairs (a,b),(b,a),(a,b)
    //   c(a,b)=2 c(b,a)=1, T=3, left a=2 b=1, right b=2 a=1
    //   pmi(a,b)=ln(2·3/(2·2))=ln 1.5; pmi(b,a)=ln(1·3/(1·1))=ln 3
    val d1 = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val o1 = Extensions.tokenPmi(d1, "text", "doc_id",
        window = 1, minCount = 1, topN = 10)
      .as[(String, String, Long, Double)].collect()
    assert(o1.length == 2)
    assert(o1(0) == (("b", "a", 1L,
      math.rint(math.log(3.0) * 1e6) / 1e6)))
    assert(o1(1) == (("a", "b", 2L,
      math.rint(math.log(1.5) * 1e6) / 1e6)))
    // "a b c", window 2: pairs (a,b),(a,c),(b,c); la: a=2 b=1;
    //   rb: b=1 c=2 → pmi ln1.5, ln0.75, ln1.5
    val d2 = Seq((1L, "a b c")).toDF("doc_id", "text")
    val o2 = Extensions.tokenPmi(d2, "text", "doc_id",
        window = 2, minCount = 1, topN = 10)
      .as[(String, String, Long, Double)].collect()
    assert(o2.map(r => (r._1, r._2)).toSeq ==
      Seq(("a", "b"), ("b", "c"), ("a", "c")))
    assert(math.abs(o2(0)._4 - math.log(1.5)) < 1e-6)
    assert(math.abs(o2(2)._4 - math.log(0.75)) < 1e-6)
    // minCount filters the pair but NOT the marginals it contributed to
    val o3 = Extensions.tokenPmi(d1, "text", "doc_id",
        window = 1, minCount = 2, topN = 10)
      .as[(String, String, Long, Double)].collect()
    assert(o3.map(r => (r._1, r._2)).toSeq == Seq(("a", "b")))
    assert(math.abs(o3(0)._4 - math.log(1.5)) < 1e-6) // T still 3
  }

  test("gopherRules: each rule fails independently on a targeted " +
      "fixture and the conjunction requires all four") {
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val good = (words("example", 56) + " the and of to that")
    val docs = Seq(
      (1L, good),                           // all rules pass
      (2L, "the and of just a few words"),  // too short
      (3L, words("a", 58) + " the and"),    // mean word length < 3
      (4L, words("12345", 58) + " the and"),// alpha fraction ~ 0.03
      (5L, words("example", 60)))           // zero stopword hits
      .toDF("doc_id", "text")
    val out = Extensions.gopherRules(docs, "text", "doc_id")
      .orderBy("doc_id")
      .select("ok_words", "ok_word_len", "ok_alpha", "ok_stop", "passes")
      .as[(Int, Int, Int, Int, Int)].collect()
    assert(out(0) == ((1, 1, 1, 1, 1)))
    assert(out(1)._1 == 0 && out(1)._5 == 0)
    assert(out(2)._2 == 0 && out(2)._5 == 0)
    assert(out(3)._3 == 0 && out(3)._5 == 0)
    assert(out(4) == ((1, 1, 1, 0, 0)))
  }

  test("bloomDecontaminate: flags are a SUPERSET of the exact form's " +
      "(no false negatives, by construction) and the false-positive " +
      "rate stays near zero at ample bits") {
    val docs0 = Seq.tabulate(150) { i =>
      // each doc carries a distinctive 10-word sentence; train docs
      // 100..119 repeat eval docs 0..19 (the contamination), train
      // docs 120..149 are disjoint from every eval doc
      val k = if (i >= 100 && i < 120) i - 100 else i
      (i.toLong, (0 until 10).map(j => s"w${k}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val train = docs0.filter(col("doc_id") >= 100)
    val eval0 = docs0.filter(col("doc_id") < 100)
    def flagsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("contaminated") === 1)
        .select("doc_id").as[Long].collect().toSet
    val exact = flagsOf(Extensions.contaminationFlags(
      train, eval0, "text", "doc_id", n = 8))
    val bloom = flagsOf(Extensions.bloomDecontaminate(
      train, eval0, "text", "doc_id", n = 8))
    assert(exact == (100L until 120L).toSet) // fixture sanity
    assert(exact.subsetOf(bloom), "bloom dropped a truly " +
      s"contaminated doc: ${exact -- bloom}")
    // 2^20 bits vs ~300 eval shingles: FPR is ~0 — allow 1 stray
    assert((bloom -- exact).size <= 1, s"excess flags: ${bloom -- exact}")
    // tiny filter degrades precision, NEVER recall
    val tiny = flagsOf(Extensions.bloomDecontaminate(
      train, eval0, "text", "doc_id", n = 8, numBits = 64))
    assert(exact.subsetOf(tiny))
  }

  test("contaminationScore: exact copies score 1.0, disjoint docs 0.0, " +
      "sub-n-gram docs (0, 0, 0.0); flag ⟺ n_hit ≥ 1") {
    val docs0 = Seq.tabulate(60) { i =>
      val k = if (i >= 40 && i < 50) i - 40 else i
      (i.toLong, (0 until 10).map(j => s"w${k}_$j").mkString(" "))
    }.toDF("doc_id", "text")
      .union(Seq((60L, "too short")).toDF("doc_id", "text"))
    val train = docs0.filter(col("doc_id") >= 40)
    val eval0 = docs0.filter(col("doc_id") < 40)
    val out = Extensions.contaminationScore(train, eval0,
        "text", "doc_id", n = 8)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect()
    // copies (40..49): all 3 shingles of a 10-word doc hit → 1.0
    assert(out.filter(r => r._1 < 50)
      .forall(r => r._2 == 3 && r._3 == 3 && r._4 == 1.0))
    // disjoint (50..59): zero hits
    assert(out.filter(r => r._1 >= 50 && r._1 < 60)
      .forall(r => r._2 == 3 && r._3 == 0 && r._4 == 0.0))
    // 2-word doc: no 8-gram at all, scores (0, 0, 0.0) not null
    assert(out.last == ((60L, 0L, 0L, 0.0)))
    // consistency with the binary flag operator
    val flags = Extensions.contaminationFlags(train, eval0,
        "text", "doc_id", n = 8)
      .orderBy("doc_id").as[(Long, Int)].collect()
    assert(flags.map(_._2).toSeq ==
      out.map(r => if (r._3 >= 1) 1 else 0).toSeq)
  }

  test("bpeMerges matches a plain-Scala reference BPE on word counts") {
    val docs0 = Seq(
      (1L, "low low low lower lowest"),
      (2L, "new newer newest low")).toDF("doc_id", "text")
    val got = Extensions.bpeMerges(docs0, "text", merges = 5)
      .orderBy("merge_rank")
      .as[(Int, String, String, Long)].collect().toSeq
    // reference: word-freq table, count adjacent pairs weighted by
    // freq, merge argmax (ties lexicographic), repeat
    var words: Map[Vector[String], Long] =
      ("low low low lower lowest new newer newest low").split(" ")
        .groupBy(identity).map { case (w, a) =>
          (w.map(_.toString).toVector, a.length.toLong) }
    val expect = (1 to 5).map { r =>
      val counts = words.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f)) }
        .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      val ((a, b), c) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      words = words.map { case (syms, f) =>
        val out = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc.init :+ (a + b)
          else acc :+ x
        }
        (out, f)
      }.groupBy(_._1).map { case (k, m) => (k, m.map(_._2).sum) }
      (r, a, b, c)
    }
    assert(got == expect, s"got $got expected $expect")
  }

  test("lengthBatches: batches are class-pure and ≤ batchSize, slots " +
      "enumerate 0..k within each batch, positions match a direct " +
      "per-class window, and the layout is partitioning-invariant") {
    val docs0 = (0 until 200).map { i =>
      (i.toLong, Seq.fill(i % 70 + 1)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Extensions.lengthBatches(docs0, "text", "doc_id",
        binWidth = 32, batchSize = 8)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Long, Long)].collect()
    assert(out.length == 200)
    // class purity: every member's length sits in its class's bin
    assert(out.forall(r => r._2 / 32 == r._3))
    // batch sizes and slot enumeration
    val byBatch = out.groupBy(r => (r._3, r._4))
    assert(byBatch.values.forall(_.length <= 8))
    assert(byBatch.values.forall(b =>
      b.map(_._5).sorted.toSeq == (0L until b.length).toSeq))
    // positions equal the direct per-class md5-order window
    val direct = docs0
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).as("n"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cls", expr("cast(n div 32 as int)"))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cls")
          .orderBy("h", "doc_id")).cast("long") - 1L)
      .select(col("doc_id"), (col("pos") / 8).cast("long").as("b"),
        pmod(col("pos"), lit(8L)).as("s"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.forall(r => direct(r._1) == ((r._4, r._5))))
    // partitioning-invariant
    val re = Extensions.lengthBatches(docs0.repartition(7), "text",
        "doc_id", binWidth = 32, batchSize = 8)
      .orderBy("doc_id")
      .as[(Long, Int, Int, Long, Long)].collect()
    assert(re.toSeq == out.toSeq)
  }

  test("paddingStats: uniform-length batches waste zero, waste is " +
      "bounded by the bin spread, doc counts conserve") {
    val docs0 = (0 until 200).map { i =>
      (i.toLong, Seq.fill(i % 70 + 1)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val out = Extensions.paddingStats(docs0, "text", "doc_id",
        binWidth = 32, batchSize = 8)
      .as[(Int, Long, Long, Int, Long, Double)].collect()
    assert(out.map(_._3).sum == 200L)
    assert(out.forall(r => r._6 >= 0.0 && r._6 < 1.0))
    // within a class, lengths span < binWidth, so waste < 32/max
    assert(out.forall(r => r._6 < 32.0 / r._4))
    // a uniform corpus (every doc 10 tokens) pads nothing
    val uni = (0 until 40).map(i =>
      (i.toLong, Seq.fill(10)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val u = Extensions.paddingStats(uni, "text", "doc_id",
        binWidth = 32, batchSize = 8)
      .as[(Int, Long, Long, Int, Long, Double)].collect()
    assert(u.forall(_._6 == 0.0))
  }

  test("noveltyScore: the first copy owns all its shingles, an exact " +
      "later copy owns none, partial overlap scores the new fraction; " +
      "Σ n_first = distinct corpus shingles") {
    def sent(k: Int) = (0 until 10).map(j => s"w${k}_$j").mkString(" ")
    val docs0 = Seq(
      (1L, sent(0)),                       // original: novelty 1
      (2L, sent(0)),                       // exact copy: novelty 0
      (3L, sent(0) + " " + sent(1)),       // half old, half new
      (4L, "too short")                    // no 8-gram: (0, 0, 0.0)
    ).toDF("doc_id", "text")
    val out = Extensions.noveltyScore(docs0, "text", "doc_id", n = 8)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect()
    assert(out(0)._2 == 3 && out(0)._4 == 1.0)
    assert(out(1)._4 == 0.0)
    // doc 3: 13 windows over 20 tokens; the 3 windows fully inside
    // sent(0) were seen in doc 1, the other 10 are first-here
    assert(out(2) == ((3L, 13L, 10L,
      math.rint(10.0 / 13 * 1e6) / 1e6)))
    assert(out(3) == ((4L, 0L, 0L, 0.0)))
    // conservation: every distinct corpus shingle is first-owned once
    assert(out.map(_._3).sum == 3 + 10)
  }

  test("temperatureMixing: alpha=1 reproduces natural proportions, " +
      "alpha->0 flattens toward uniform, targets cap at source size") {
    val docs0 = (Seq.fill(90)("big") ++ Seq.fill(10)("small"))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "source")
    def mix(alpha: Double, budget: Long) =
      Extensions.temperatureMixing(docs0, "source", budget, alpha)
        .orderBy("source")
        .as[(String, Long, Double, Long)].collect()
    val nat = mix(1.0, 50)
    assert(nat.map(_._2).toSeq == Seq(90L, 10L))
    assert(nat(0)._3 == 0.9 && nat(1)._3 == 0.1) // natural proportions
    assert(nat(0)._4 == 45L && nat(1)._4 == 5L)
    val flat = mix(0.1, 50)
    // smoothing narrows the gap strictly, never reverses the order
    assert(flat(0)._3 < 0.9 && flat(0)._3 > flat(1)._3)
    assert(flat(1)._3 > 0.1)
    // a budget larger than the corpus caps every target at n_docs
    val capped = mix(0.3, 100000)
    assert(capped.forall(r => r._4 == r._2))
  }

  test("bpeStats: counts match encoding the corpus with the reference " +
      "BPE merges; zero merges means one token per char") {
    val docs0 = Seq(
      (1L, "low low low lower lowest"),
      (2L, "new newer newest low")).toDF("doc_id", "text")
    val corpus = "low low low lower lowest new newer newest low".split(" ")
    // reference: learn merges on word counts, then encode
    var words: Map[Vector[String], Long] = corpus.groupBy(identity)
      .map { case (w, a) => (w.map(_.toString).toVector, a.length.toLong) }
    (1 to 6).foreach { _ =>
      val counts = words.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f)) }
        .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      if (counts.nonEmpty) {
        val ((a, b), _) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        words = words.map { case (syms, f) =>
          (syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }, f)
        }.groupBy(_._1).map { case (k, m) => (k, m.map(_._2).sum) }
      }
    }
    val expTokens = words.map { case (syms, f) => syms.size * f }.sum
    val expChars = corpus.map(_.length).sum
    val got = Extensions.bpeStats(docs0, "text", merges = 6)
      .as[(Long, Long, Long, Double)].head()
    assert(got._1 == corpus.length.toLong)
    assert(got._2 == expChars.toLong)
    assert(got._3 == expTokens)
    assert(got._4 ==
      math.rint(expChars.toDouble / expTokens * 1e6) / 1e6)
  }

  test("bpeEncode: per-doc encoding matches the reference BPE word " +
      "by word, round-trips the text losslessly, aggregates to " +
      "bpeStats' corpus counts, and is partitioning-invariant") {
    val docs0 = Seq(
      (1L, "low low low lower lowest"),
      (2L, "new newer newest low"),
      (3L, "")).toDF("doc_id", "text")
    val corpus = "low low low lower lowest new newer newest low".split(" ")
    // reference: learn merges on word counts (bpeStats' reference),
    // keep the final word → symbols map
    var words: Map[Vector[String], Long] = corpus.groupBy(identity)
      .map { case (w, a) => (w.map(_.toString).toVector, a.length.toLong) }
    (1 to 6).foreach { _ =>
      val counts = words.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f)) }
        .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      if (counts.nonEmpty) {
        val ((a, b), _) = counts.toSeq
          .sortBy { case ((a, b), c) => (-c, a, b) }.head
        words = words.map { case (syms, f) =>
          (syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }, f)
        }.groupBy(_._1).map { case (k, m) => (k, m.map(_._2).sum) }
      }
    }
    val encodeOf = words.keys.map(syms => syms.mkString -> syms).toMap
    def expectDoc(text: String): String =
      text.split(" ").filter(_.nonEmpty)
        .flatMap(w => encodeOf(w)).mkString(" ")
    val out = Extensions.bpeEncode(docs0, "text", "doc_id", merges = 6)
      .orderBy("doc_id")
      .as[(Long, Int, Long, Int, String)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out(0)._5 == expectDoc("low low low lower lowest"))
    assert(out(1)._5 == expectDoc("new newer newest low"))
    // the empty doc still gets a row, all-zero
    assert(out(2) == ((3L, 0, 0L, 0, "")))
    // losslessness: the encoded stream minus spaces re-spells the text
    out.take(2).foreach { r =>
      val text = if (r._1 == 1L) "low low low lower lowest"
                 else "new newer newest low"
      assert(r._5.replace(" ", "") == text.replace(" ", ""))
      assert(r._2 == text.split(" ").length)
      assert(r._3 == text.replace(" ", "").length.toLong)
      assert(r._4 == r._5.split(" ").length)
    }
    // corpus-level consistency: encoding every doc and summing equals
    // bpeStats' per-distinct-word aggregate (same corpus, same merges)
    val stats = Extensions.bpeStats(docs0, "text", merges = 6)
      .as[(Long, Long, Long, Double)].head()
    assert(out.map(_._2.toLong).sum == stats._1)
    assert(out.map(_._3).sum == stats._2)
    assert(out.map(_._4.toLong).sum == stats._3)
    // composition with vocabEncode (the BPE → vocab-id pipeline stage):
    // token counts agree when the encoded stream is re-tokenized
    val ve = Extensions.vocabEncode(
        Extensions.bpeEncode(docs0, "text", "doc_id", merges = 6)
          .select(col("doc_id"), col("bpe_tokens").as("text")),
        "text", "doc_id", vocabSize = 8)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    // vocabEncode sizes the raw split (empty text → one empty token
    // filtered upstream in bpeEncode but split("") = [""] here), so
    // compare the non-empty docs only
    assert(ve(0)._2 == out(0)._4 && ve(1)._2 == out(1)._4)
    // partitioning-invariant
    val re = Extensions.bpeEncode(docs0.repartition(5), "text",
        "doc_id", merges = 6)
      .orderBy("doc_id")
      .as[(Long, Int, Long, Int, String)].collect()
    assert(re.toSeq == out.toSeq)
  }

  test("vocabEncode: rank order (freq desc, token asc), OOV collapses " +
      "to id V, encode preserves token order") {
    val docs0 = Seq(
      (1L, "b a b c b a"),
      (2L, "a rare b")).toDF("doc_id", "text")
    // freqs: b=4, a=3, c=1, rare=1 → top-2 vocab: b=0, a=1; others OOV=2
    val out = Extensions.vocabEncode(docs0, "text", "doc_id",
        vocabSize = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out(0) == ((1L, 6, 1, "0,1,0,2,0,1")))
    assert(out(1) == ((2L, 3, 1, "1,2,0")))
  }

  test("zipfSlope equals the global-rank brute force bit-for-bit on a " +
      "tie-heavy corpus, across partitionings (the r10 histogram-rank " +
      "permutation-invariance claim, adversarially checked)") {
    // many words share frequencies (hapax-heavy + planted tie groups),
    // so the salted tie-group machinery is fully exercised
    val rnd = new scala.util.Random(13)
    val words = (0 until 120).map(i => s"w${i}%02d")
    val corpus = (0 until 400).map { _ =>
      words(rnd.nextInt(words.size))
    } ++ words // every word at least once; long hapax tail
    val text = corpus.mkString(" ")
    // brute force: the ORIGINAL global (f desc, w asc) rank formula
    val freq = corpus.groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (w, f) => (-f, w) }
    val xs = freq.zipWithIndex.map { case (_, i) =>
      math.rint(math.log((i + 1).toDouble) * 1e6).toLong }
    val ys = freq.map { case (_, f) =>
      math.rint(math.log(f.toDouble) * 1e6).toLong }
    val n = BigInt(freq.size)
    val sx = xs.map(BigInt(_)).sum
    val sy = ys.map(BigInt(_)).sum
    val sxy = xs.zip(ys).map { case (x, y) => BigInt(x * y) }.sum
    val sxx = xs.map(x => BigInt(x * x)).sum
    val syy = ys.map(y => BigInt(y * y)).sum
    val num = n * sxy - sx * sy
    val denX = n * sxx - sx * sx
    val denY = n * syy - sy * sy
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expSlope = r6(num.toDouble / denX.toDouble)
    val expR2 = r6(num.toDouble * num.toDouble /
      (denX.toDouble * denY.toDouble))
    for (parts <- Seq(1, 7, 32)) {
      val docs = Seq((1L, text)).toDF("doc_id", "text").repartition(parts)
      val (nt, slope, r2) = Extensions.zipfSlope(docs, "text")
        .as[(Long, Double, Double)].head()
      assert(nt == freq.size.toLong, s"parts=$parts")
      assert(slope == expSlope, s"parts=$parts: $slope != $expSlope")
      assert(r2 == expR2, s"parts=$parts: $r2 != $expR2")
    }
  }

  test("zipfSlope: an exact power-law corpus (f·r = const) fits slope " +
      "-1 with r² = 1; n_terms counts the vocabulary") {
    // counts 6, 3, 2 at ranks 1, 2, 3: ln f = ln 6 − ln r exactly
    val docs = Seq((1L, "a a a a a a b b b c c")).toDF("doc_id", "text")
    val (n, slope, r2) = Extensions.zipfSlope(docs, "text")
      .as[(Long, Double, Double)].head()
    assert(n == 3L)
    assert(math.abs(slope - (-1.0)) < 1e-3, s"slope $slope")
    assert(math.abs(r2 - 1.0) < 1e-3, s"r2 $r2")
  }

  // ── jsDivergence ─────────────────────────────────────────────────────

  test("jsDivergence endpoints: identical mix → 0, disjoint vocab → ln 2") {
    // two sources with the SAME token distribution → p = q → jsd 0
    val same = Seq((1L, "a a b c", "s1"), (2L, "a a b c", "s2"))
      .toDF("doc_id", "text", "source")
    Extensions.jsDivergence(same, "text", "source").collect().foreach { r =>
      assert(r.getAs[Double]("jsd") == 0.0, s"identical mix: $r")
    }
    // disjoint vocabularies → maximal divergence ln 2 ≈ 0.693147
    val disj = Seq((1L, "a a b", "s1"), (2L, "x y z z", "s2"))
      .toDF("doc_id", "text", "source")
    Extensions.jsDivergence(disj, "text", "source").collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("jsd") - math.log(2.0)) < 1e-5,
        s"disjoint: $r")
    }
  }

  test("jsDivergence matches the direct two-distribution definition") {
    val rnd = new scala.util.Random(13)
    val vocab = ('a' to 'j').map(_.toString)
    def doc(n: Int, bias: Int): String =
      Seq.fill(n)(vocab(math.min(rnd.nextInt(10), rnd.nextInt(10) + bias)
        .min(9))).mkString(" ")
    val docs = (1 to 10).map(i => (i.toLong, doc(30, 0), "s1")) ++
      (11 to 20).map(i => (i.toLong, doc(30, 3), "s2"))
    val out = Extensions.jsDivergence(docs.toDF("doc_id", "text", "source"),
      "text", "source").orderBy("source").collect()
    // brute force per source vs rest
    val toks = docs.map { case (_, t, s) => (s, t.split(" ").toSeq) }
    val all = toks.flatMap(_._2)
    for (r <- out) {
      val s = r.getAs[String]("source")
      val inS = toks.filter(_._1 == s).flatMap(_._2)
      val rest = toks.filter(_._1 != s).flatMap(_._2)
      val v = all.distinct
      def dist(xs: Seq[String]) =
        v.map(t => xs.count(_ == t).toDouble / xs.size)
      val (p, q) = (dist(inS), dist(rest))
      val jsd = p.zip(q).map { case (pi, qi) =>
        val m = (pi + qi) / 2
        (if (pi > 0) pi * math.log(pi / m) else 0.0) +
          (if (qi > 0) qi * math.log(qi / m) else 0.0)
      }.sum / 2
      assert(math.abs(r.getAs[Double]("jsd") - jsd) < 1e-4,
        s"$s: ${r.getAs[Double]("jsd")} vs $jsd")
      assert(r.getAs[Long]("n_tokens") == inS.size)
    }
  }

  test("jsDivergence: single-source corpus yields null (no rest)") {
    val one = Seq((1L, "a b c", "only")).toDF("doc_id", "text", "source")
    val r = Extensions.jsDivergence(one, "text", "source").collect()(0)
    assert(r.isNullAt(r.fieldIndex("jsd")))
  }

  // ── chunkDedup ───────────────────────────────────────────────────────

  // the chunk-boundary rule (md5-60(token) % avgLen == 0), recomputed
  // test-side so fixtures can PLACE boundaries deterministically —
  // small random vocabularies may contain no boundary word at all,
  // which degenerates every document to one chunk
  private def isChunkBoundary(w: String, avgLen: Int): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % avgLen == 0
  }

  test("chunkDedup flags exactly the chunks shared across documents " +
      "and its shares reconcile with cdcChunks") {
    val pool = (0 until 200).map(i => s"t$i")
    val bWord = pool.find(isChunkBoundary(_, 16)).get
    val filler = pool.filterNot(isChunkBoundary(_, 16))
    def para(seed: Int, n: Int, vocab: Seq[String]): String = {
      val r = new scala.util.Random(seed)
      // a boundary word every ~12 tokens so multi-chunk structure is
      // GUARANTEED, not luck
      (1 to n).map(i => if (i % 12 == 0) bWord
        else vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val shared = para(1, 120, filler.take(40))
    val docs = Seq(
      (1L, shared + " " + para(2, 100, filler.take(40))),
      (2L, para(3, 90, filler.take(40)) + " " + shared),
      // doc 3's vocabulary is DISJOINT from docs 1/2 (and skips the
      // shared boundary word), so no chunk can collide
      (3L, para(4, 150, filler.slice(40, 80)).replace(bWord,
        filler(81)))
    ).toDF("doc_id", "text")
    val out = Extensions.chunkDedup(docs, "text", "doc_id",
      avgLen = 16, minDocs = 2).orderBy("doc_id").collect()
    // reconcile against the chunk table directly
    val ch = Extensions.cdcChunks(docs, "text", "doc_id", avgLen = 16)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_hash"), r.getAs[Int]("n_tokens")))
    val docsPerHash = ch.groupBy(_._2).map { case (h, g) =>
      h -> g.map(_._1).distinct.size }
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      val mine = ch.filter(_._1 == id)
      assert(r.getAs[Long]("n_chunks") == mine.length)
      val sh = mine.filter(c => docsPerHash(c._2) >= 2)
      assert(r.getAs[Long]("n_shared") == sh.length, s"doc $id")
      assert(r.getAs[Long]("n_tokens") == mine.map(_._3.toLong).sum)
    }
    // docs 1 and 2 share real mass; doc 3 shares none
    val frac = out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("shared_token_frac")).toMap
    assert(frac(1L) > 0.2 && frac(2L) > 0.2, s"fracs: $frac")
    assert(frac(3L) == 0.0, s"fracs: $frac")
  }

  test("chunkDedup shared extent survives an edit elsewhere in the " +
      "document (the content-defined boundary law)") {
    val pool = (0 until 200).map(i => s"t$i")
    val bWord = pool.find(isChunkBoundary(_, 16)).get
    val filler = pool.filterNot(isChunkBoundary(_, 16))
    val r = new scala.util.Random(37)
    def span(n: Int): String =
      (1 to n).map(i => if (i % 10 == 0) bWord
        else filler(r.nextInt(60))).mkString(" ")
    val shared = span(100)
    val tail = span(80)
    val before = Seq((1L, shared + " " + tail), (2L, shared))
      .toDF("doc_id", "text")
    // doc 1 gets an insertion at its far end — outside the shared span
    val after = Seq((1L, shared + " " + tail + " qq qq qq"), (2L, shared))
      .toDF("doc_id", "text")
    def sharedChunks(df: org.apache.spark.sql.DataFrame): Long =
      Extensions.chunkDedup(df, "text", "doc_id", avgLen = 16,
          minDocs = 2)
        .filter(col("doc_id") === 1L)
        .collect()(0).getAs[Long]("n_shared")
    val b = sharedChunks(before); val a = sharedChunks(after)
    assert(b > 0, "fixture must share chunks")
    assert(a == b, s"an edit outside the shared span moved it: $b -> $a")
  }

  // ── corpusReport / dupBySource ───────────────────────────────────────

  test("corpusReport: exact dup identity, head near-copy detection, " +
      "language entropy endpoints, exact token accounting") {
    val head = (1 to 16).map(i => s"h$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma", "en"),     // 3 tokens
      (2L, "alpha beta gamma", "en"),     // exact dup of 1
      (3L, head + " tail one", "de"),     // shares the 16-token head
      (4L, head + " other ending", "de")  // with doc 3, text differs
    ).toDF("doc_id", "text", "lang")
    val r = Extensions.corpusReport(docs, "text", "lang").collect()(0)
    assert(r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Long]("distinct_texts") == 3)
    assert(r.getAs[Long]("dup_docs") == 1)
    // heads: {alpha..} ×2 (exact dups share trivially), {h1..h16} ×2
    // → 2 distinct heads → head_dup_docs = 2 (supersets exact dups)
    assert(r.getAs[Long]("head_dup_docs") == 2)
    assert(r.getAs[Long]("n_langs") == 2)
    // balanced 2-language mix → entropy ln 2
    assert(math.abs(r.getAs[Double]("lang_entropy") - math.log(2.0))
      < 1e-6)
    assert(r.getAs[Long]("n_tokens") == 3 + 3 + 18 + 18)
    // single doc, single lang → all-degenerate card
    val one = Seq((1L, "just one doc", "en")).toDF("doc_id", "text", "lang")
    val r1 = Extensions.corpusReport(one, "text", "lang").collect()(0)
    assert(r1.getAs[Long]("dup_docs") == 0 &&
      r1.getAs[Long]("head_dup_docs") == 0)
    assert(r1.getAs[Double]("lang_entropy") == 0.0)
  }

  test("corpusReport mean_quality matches the curateCorpus scoring " +
      "formula averaged by hand") {
    val docs = Seq(
      (1L, "aa bb cc dd.", "en"),
      (2L, "x! y? z, w. longer tokens here now", "en")
    ).toDF("doc_id", "text", "lang")
    def quality(text: String): Double = {
      val cc = text.length
      val nosp = text.count(_ != ' ')
      val tc = cc - nosp + 1
      val punct = nosp - text.count(c => c != ' ' && c != '.' &&
        c != ',' && c != '!' && c != '?')
      val atl = math.rint(nosp.toDouble / tc * 1e6) / 1e6
      math.min(1.0, tc / 100.0) * 0.5 +
        (1.0 - math.min(1.0, punct.toDouble / math.max(tc, 1))) * 0.3 +
        math.min(1.0, atl / 10.0) * 0.2
    }
    val exp = Seq("aa bb cc dd.", "x! y? z, w. longer tokens here now")
      .map(t => math.round(quality(t) * 1e6))
      .sum.toDouble / 2 / 1e6
    val got = Extensions.corpusReport(docs, "text", "lang")
      .collect()(0).getAs[Double]("mean_quality")
    assert(math.abs(got - exp) < 1e-6, s"$got vs $exp")
  }

  test("dupBySource attributes exact and cross-source duplication to " +
      "the right feeds, under both identity keys") {
    val docs = Seq(
      (1L, "copy of page one here now", "sA"),
      (2L, "copy of page one here now", "sB"),   // cross-source exact dup
      (3L, "unique a", "sA"),
      (4L, "within dup text", "sC"),
      (5L, "within dup text", "sC")              // within-source dup
    ).toDF("doc_id", "text", "source")
    val out = Extensions.dupBySource(docs, "text", "source")
      .orderBy("source").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("dup_docs"),
          r.getAs[Long]("cross_source_docs"))).toMap
    assert(out("sA") == ((2L, 1L, 1L)), s"sA: ${out("sA")}")
    assert(out("sB") == ((1L, 1L, 1L)))
    assert(out("sC") == ((2L, 2L, 0L)), "within-source dup is dup but " +
      "not cross-source")
    // head-fingerprint key: docs sharing only a head now count too
    val headDocs = Seq(
      (1L, (1 to 16).map("w" + _).mkString(" ") + " ending one", "sA"),
      (2L, (1 to 16).map("w" + _).mkString(" ") + " ending two", "sB"))
      .toDF("doc_id", "text", "source")
    val h = Extensions.dupBySource(headDocs, "text", "source",
      headTokens = 16).collect()
    assert(h.forall(_.getAs[Long]("cross_source_docs") == 1L))
    val exact = Extensions.dupBySource(headDocs, "text", "source")
      .collect()
    assert(exact.forall(_.getAs[Long]("cross_source_docs") == 0L))
  }

  // ── leakageSafeSplit ─────────────────────────────────────────────────

  test("leakageSafeSplit: no near-dup cluster ever straddles train and " +
      "eval — including clusters a row-hash split WOULD tear apart") {
    // pairs chain 0-1-2 and 10-11; 20..29 are singletons
    val ids = (Seq(0L, 1L, 2L, 10L, 11L) ++ (20L to 29L)).map(Tuple1(_))
      .toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Extensions.leakageSafeSplit(ids, "doc_id", pairs)
      .collect()
    // the law: within a component, is_train is constant
    out.groupBy(_.getAs[Long]("component")).foreach { case (c, rows) =>
      assert(rows.map(_.getAs[Int]("is_train")).distinct.length == 1,
        s"component $c straddles the split")
    }
    // cluster sizes are the component cardinalities
    val bySize = out.map(r => r.getAs[Long]("component") ->
      r.getAs[Long]("cluster_size")).toMap
    assert(bySize(0L) == 3L && bySize(10L) == 2L && bySize(20L) == 1L)
    // the contrast: a ROW-hash split of the same ids tears at least
    // one of these clusters apart (the leakage this operator closes)
    val md = java.security.MessageDigest.getInstance("MD5")
    def rowBucket(id: Long): String = md.digest(id.toString.getBytes)
      .map("%02x".format(_)).mkString.substring(0, 2)
    val torn = Seq(Seq(0L, 1L, 2L), Seq(10L, 11L)).exists(cl =>
      cl.map(id => rowBucket(id) < "cd").distinct.length > 1)
    assert(torn, "fixture too weak: row-hash split kept all clusters " +
      "together by luck — change the ids")
  }

  test("leakageSafeSplit is deterministic across partitionings and " +
      "its train share tracks trainBuckets/256 on singletons") {
    val ids = (0L until 512L).map(Tuple1(_)).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val a = Extensions.leakageSafeSplit(ids, "doc_id", noPairs,
      trainBuckets = 128).collect()
    val b = Extensions.leakageSafeSplit(ids.repartition(7), "doc_id",
      noPairs, trainBuckets = 128).collect()
    assert(a.sortBy(_.getAs[Long]("doc_id")).map(_.toString).toSeq ==
      b.sortBy(_.getAs[Long]("doc_id")).map(_.toString).toSeq)
    val share = a.count(_.getAs[Int]("is_train") == 1).toDouble / a.length
    assert(share > 0.35 && share < 0.65, s"train share $share vs 0.5")
  }

  // ── embeddingQa ──────────────────────────────────────────────────────

  test("embeddingQa: NaN/zero accounting, exact moments, NaN-excluded " +
      "extrema, and degenerate-dimension nulls") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, Float.NaN, 5.0f)),
      (2L, Array(2.0f, 0.0f, Float.NaN, 5.0f)),
      (3L, Array(3.0f, 0.0f, Float.NaN, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = Extensions.embeddingQa(emb, "embedding")
      .orderBy("dim").collect()
    assert(out.length == 4)
    val d0 = out(0)
    assert(d0.getAs[Long]("n") == 3 && d0.getAs[Long]("n_nan") == 0)
    assert(d0.getAs[Double]("mean") == 2.0)
    assert(d0.getAs[Double]("std") == 1.0)   // sample std of 1,2,3
    assert(d0.getAs[Double]("min_val") == 1.0 &&
      d0.getAs[Double]("max_val") == 3.0)
    val d1 = out(1)
    assert(d1.getAs[Long]("n_zero") == 3 && d1.getAs[Double]("std") == 0.0)
    val d2 = out(2)   // all NaN: moments and extrema are null
    assert(d2.getAs[Long]("n_nan") == 3)
    assert(d2.isNullAt(d2.fieldIndex("mean")) &&
      d2.isNullAt(d2.fieldIndex("std")) &&
      d2.isNullAt(d2.fieldIndex("min_val")))
    val d3 = out(3)   // constant dimension: zero variance, not null
    assert(d3.getAs[Double]("std") == 0.0 &&
      d3.getAs[Double]("mean") == 5.0)
  }

  test("embeddingQa moments match brute force on random vectors " +
      "across partitionings") {
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 90L).map(i =>
      (i, Array.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
    val df = vecs.toDF("vec_id", "embedding")
    for (np <- Seq(1, 13)) {
      val out = Extensions.embeddingQa(df.repartition(np), "embedding")
        .orderBy("dim").collect()
      for (d <- 0 until 8) {
        // the operator quantizes to micro-units before the moments —
        // mirror that exactly, then the comparison is bit-for-bit
        val xs = vecs.map(v => math.round(v._2(d).toDouble * 1e6))
        val n = xs.length
        val mean = BigDecimal(xs.sum).toDouble / n / 1e6
        val varNum = BigDecimal(n) * xs.map(x => BigDecimal(x) *
          BigDecimal(x)).sum - BigDecimal(xs.sum) * BigDecimal(xs.sum)
        val std = math.sqrt(varNum.toDouble /
          (BigDecimal(n) * BigDecimal(n - 1)).toDouble) / 1e6
        val r = out(d)
        assert(math.abs(r.getAs[Double]("mean") -
          (math.rint(mean * 1e6) / 1e6)) < 2e-6, s"dim $d mean")
        assert(math.abs(r.getAs[Double]("std") - std) < 2e-6,
          s"dim $d std")
      }
    }
  }

  // ── dsirResample ─────────────────────────────────────────────────────

  test("dsirResample draws the gumbel-top-k of the weight table " +
      "deterministically across partitionings") {
    val rnd = new scala.util.Random(17)
    val words = Seq("the", "cat", "sat", "mat", "dog", "ran", "far", "big")
    val docs = (0L until 120L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      (i, Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    val out = Extensions.dsirResample(docs, "text", "doc_id",
      isTarget = col("lang") === "en", k = 15, buckets = 64)
    val rows = out.collect()
    assert(rows.length == 15)
    // ranks are 1..k and keys descend with id tie-break
    val keys = rows.sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("key_micro"), r.getAs[Long]("doc_id")))
    assert(keys.map(_._1).toSeq == keys.map(_._1).sortBy(-_).toSeq)
    // the selection equals weights + test-side gumbel, recomputed
    val w = Extensions.dsirWeights(docs, "text", "doc_id",
      col("lang") === "en", buckets = 64).collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def gumbelMicro(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      val u = (h + 1).toDouble / (math.pow(2.0, 60) + 256.0)
      math.round(-math.log(-math.log(u)) * 1000000.0)
    }
    val expect = w.map { r =>
      val id = r.getAs[Long]("doc_id")
      val km = math.round(r.getAs[Double]("log_weight") * 1000000.0) +
        gumbelMicro(id)
      (km, id)
    }.sortBy { case (km, id) => (-km, id) }.take(15).toSeq
    assert(keys.toSeq == expect, "selection diverged from the law")
    // partitioning cannot move the draw
    val re = Extensions.dsirResample(docs.repartition(7), "text", "doc_id",
      isTarget = col("lang") === "en", k = 15, buckets = 64).collect()
    assert(re.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq
      == rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("dsirResample favors target-like documents") {
    // target docs use one vocabulary, the pool another; a doc's weight
    // must rank target-vocabulary docs first
    val tgt = (0L until 30L).map(i => (i, "alpha beta gamma alpha", "en"))
    val bg = (30L until 90L).map(i => (i, "zeta eta theta zeta", "de"))
    val docs = (tgt ++ bg).toDF("doc_id", "text", "lang")
    val picked = Extensions.dsirResample(docs, "text", "doc_id",
        isTarget = col("lang") === "en", k = 20, buckets = 128)
      .collect().map(_.getAs[Long]("doc_id"))
    val nTarget = picked.count(_ < 30L)
    assert(nTarget >= 18, s"only $nTarget/20 draws were target-like")
  }

  // ── qualityScoreLr ───────────────────────────────────────────────────

  test("qualityScoreLr: the fit is deterministic (two fits agree to " +
      "the micro-unit), the scorer learns the weak-label signal, and " +
      "log_odds is the exact micro-integer margin") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
    def run() = {
      val out = Extensions.qualityScoreLr(docs, "text", "doc_id",
        buckets = 512)
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).sortBy(_._1).toSeq
      (rows, Extensions.lastQualityLrFit.get())
    }
    val (rows1, fit1) = run()
    val (rows2, fit2) = run()
    assert(fit1 == fit2,
      "two fits on the same corpus must micro-round identically")
    assert(rows1 == rows2)
    // the weak labels are derivable from the text, so the trained
    // scorer must recover them far above chance on its training set
    val labels = Extensions.gopherRules(docs, "text", "doc_id")
      .select(col("doc_id"), col("passes")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(labels.values.toSet == Set(0, 1),
      "weak labels must contain both classes")
    val scored = rows1.filter(r => labels.contains(r._1))
    val acc = scored.count(r => labels(r._1) == r._4).toDouble / scored.size
    assert(acc >= 0.8, f"training accuracy $acc%.3f below 0.8")
    // margin exactness: log_odds · 1e6 is an integer (the micro margin)
    rows1.foreach { case (_, _, lo, pred) =>
      val micro = lo * 1e6
      assert(math.abs(micro - math.rint(micro)) < 1e-6,
        s"log_odds $lo is not an exact micro-unit value")
      assert((micro > 0) == (pred == 1))
    }
    // the 100 TB posture: a fit capped FAR below the corpus still
    // scores EVERY document (the cap bounds the fit, never the
    // scoring pass), deterministically, and still beats chance
    val capped = Extensions.qualityScoreLr(docs, "text", "doc_id",
        buckets = 512, fitSampleCap = 100L)
      .collect().map(r => (r.getLong(0), r.getInt(3))).sortBy(_._1).toSeq
    assert(capped.map(_._1) == rows1.map(_._1).toSeq,
      "a capped fit must still score every document")
    val cappedAcc = capped.filter(r => labels.contains(r._1))
      .count(r => labels(r._1) == r._2).toDouble / capped.size
    assert(cappedAcc >= 0.6, f"capped-fit accuracy $cappedAcc%.3f")
  }

  test("htmlExtract drops anchor-heavy chrome blocks, keeps payload " +
      "blocks (even inside containers), and htmlWrap round-trips the " +
      "original text exactly") {
    // handcrafted page: payload <p>s nested in a <div> container,
    // anchor-heavy nav/footer chrome, a mixed block below the density
    // threshold, and an empty block
    val page = "<html><body><nav><a href=\"/\">home page</a> " +
      "<a href=\"/x\">more links</a></nav>" +
      "<div class=\"c\"><p>the quick brown fox</p>" +
      "<p>jumps over the dog</p></div>" +
      "<p>see <a href=\"/ref\">ref</a> for details and context</p>" +
      "<p></p>" +
      "<footer><a href=\"/tos\">terms of service</a> (c)</footer>" +
      "</body></html>"
    val out = Extensions.htmlExtract(
        Seq((1L, page)).toDF("doc_id", "html"), "html", "doc_id")
      .select("doc_id", "text_extracted", "n_blocks", "n_kept")
      .as[(Long, String, Int, Int)].collect().head
    // nav (anchor-only), footer (19 of 23 chars in anchors) and the
    // empty block drop; the two nested <p>s and the low-density mixed
    // block survive in document order
    assert(out._2 == "the quick brown fox jumps over the dog " +
      "see ref for details and context")
    assert(out._3 == 6 && out._4 == 3)
    // the catalog fixture law: wrap → extract recovers text EXACTLY,
    // with the 12-word paragraph split producing >1 block on long docs
    val texts = Seq(
      (1L, "a b"),
      (2L, Seq.tabulate(30)(i => s"w$i").mkString(" ")),
      (3L, "one two three four five six seven eight nine ten eleven " +
        "twelve"))
    val wrapped = texts.toDF("doc_id", "text")
      .withColumn("html", Extensions.htmlWrap(col("text")))
    val back = Extensions.htmlExtract(wrapped, "html", "doc_id")
      .select("doc_id", "text", "text_extracted", "n_kept")
      .as[(Long, String, String, Int)].collect()
    back.foreach { case (id, t, e, _) =>
      assert(e == t, s"doc $id: extraction did not round-trip") }
    assert(back.find(_._1 == 2L).get._4 == 3) // 30 words → 12|12|6
    // the curation head: html input flows through extraction and the
    // pipeline output equals curation on the plain text
    val viaHtml = Extensions.curateCorpus(
        wrapped.drop("text"), "text", "doc_id", minQuality = 0.0,
        htmlCol = Some("html"))
      .collect().map(_.toSeq).toSet
    val plain = Extensions.curateCorpus(
        texts.toDF("doc_id", "text"), "text", "doc_id", minQuality = 0.0)
      .collect().map(_.toSeq).toSet
    assert(viaHtml == plain)
  }

  test("htmlExtract handles real-crawl HTML shapes: attribute-bearing " +
      "tags, uppercase tags, multiline blocks, bare <a> anchors") {
    // the review-finding page: every block the first cut missed
    val page = "<HTML><BODY>" +
      "<NAV id=\"top\"><A HREF=\"/\">home page</A> " +
      "<a class=\"x\" href=\"/y\">more links</a></NAV>" +
      "<p class=\"body\" data-k=\"1\">line one\nline two\nline three</p>" +
      "<P>UPPER tagged payload paragraph here</P>" +
      "<li data-i=\"3\">see <a>bare anchor</a> in a list item of " +
      "mostly text</li>" +
      "<footer\nclass=\"f\"><a href=\"/tos\">terms of service and " +
      "privacy</a></footer>" +
      "</BODY></HTML>"
    val out = Extensions.htmlExtract(
        Seq((1L, page)).toDF("doc_id", "html"), "html", "doc_id")
      .select("text_extracted", "n_blocks", "n_kept")
      .as[(String, Int, Int)].collect().head
    // nav (anchor-only) and footer (anchor-only) drop; the attribute'd
    // multiline <p>, the uppercase <P>, and the bare-anchor <li> keep
    assert(out._2 == 5, s"blocks: ${out._2} in $out")
    assert(out._3 == 3, s"kept: ${out._3} in $out")
    assert(out._1 == "line one\nline two\nline three " +
      "UPPER tagged payload paragraph here " +
      "see bare anchor in a list item of mostly text")
    // <pre> is NOT a block tag and must not be captured by the <p
    // prefix (the \b guard)
    val pre = Extensions.htmlExtract(
        Seq((1L, "<pre>code block</pre><p>real text here</p>"))
          .toDF("doc_id", "html"), "html", "doc_id")
      .select("text_extracted", "n_blocks")
      .as[(String, Int)].collect().head
    assert(pre == (("real text here", 1)))
  }
}

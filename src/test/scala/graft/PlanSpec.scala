package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB posture checks (SURVEY.md §7
  * scale risks). Correctness tests say the answers are right; these say
  * the *plans* are the ones that survive a 1000-executor scale-up:
  * small sides broadcast, scans column-pruned, filters pushed down.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  /** Final (post-AQE) executed plan string, after forcing execution. */
  def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p                        => p.toString
    }
  }

  test("freq_encoding joins the count table via broadcast, not sort-merge") {
    val plan = executedPlan(SparkEntry.queries("freq_encoding")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"plan was:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan was:\n$plan")
  }

  test("agg_features broadcast-joins the per-group aggregate back") {
    val plan = executedPlan(SparkEntry.queries("agg_features")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"plan was:\n$plan")
  }

  test("multi_join_revenue prunes lineitem to the 3 needed columns") {
    val plan = executedPlan(SparkEntry.queries("multi_join_revenue")(spark, sf))
    val lineitemScan = plan.linesIterator
      .find(l => l.contains("lineitem") && l.contains("ReadSchema"))
    assert(lineitemScan.isDefined, s"no lineitem scan in:\n$plan")
    val schema = lineitemScan.get.split("ReadSchema:").last
    for (c <- Seq("l_orderkey", "l_extendedprice", "l_discount"))
      assert(schema.contains(c), s"missing $c in $schema")
    for (c <- Seq("l_quantity", "l_shipdate", "l_returnflag"))
      assert(!schema.contains(c), s"unpruned $c in $schema")
  }

  test("ngram_jaccard pushes the doc_id sample filter into the scan") {
    val plan = executedPlan(SparkEntry.queries("ngram_jaccard")(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,300)]")
      || plan.contains("LessThan(doc_id,300)"), s"plan was:\n$plan")
  }

  test("outlier_flags never funnels the fact table into one partition") {
    // the global-stats form must be a 1-row broadcast, not a Window over ()
    val plan = executedPlan(SparkEntry.queries("outlier_flags")(spark, sf))
    assert(!plan.contains("Window"), s"plan was:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"plan was:\n$plan")
  }

  test("top_k_orders uses TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(SparkEntry.queries("top_k_orders")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("lag/rolling window pipeline shuffles exactly once (on user_id)") {
    val df = SparkEntry.queries("lag_features")(spark, sf)
    df.collect()
    val plan = executedPlan(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("sessionize shuffles the events once, then stays partition-local") {
    val df = SparkEntry.queries("sessionize")(spark, sf)
    df.collect()
    val plan = executedPlan(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one exchange for the user_id window; the final groupBy(user_id,
    // session_id) reuses nothing narrower than user_id, so at most one more
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
  }

  test("tumbling_window aggregates partially before its single shuffle") {
    val df = SparkEntry.queries("tumbling_window")(spark, sf)
    df.collect()
    val plan = executedPlan(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregation:\n$plan")
  }

  test("ntile_binning has no single-partition window (broadcast cutpoints)") {
    val df = SparkEntry.queries("ntile_binning")(spark, sf)
    df.collect()
    val planNode = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // the typed check PlanAudit uses — the round-1 string detector
    // missed exactly this query
    val globalWin = planNode.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => w
    }
    assert(globalWin.isEmpty, s"single-partition window in:\n$planNode")
    // the 9 cutpoints arrive via a broadcast of the 1-row aggregate
    assert(planNode.toString.contains("BroadcastExchange"),
      s"no broadcast cutpoints in:\n$planNode")
  }

  test("stratified_sample windows on (stratum, bucket), not stratum alone") {
    val df = SparkEntry.queries("stratified_sample")(spark, sf)
    df.collect()
    val plan = executedPlan(df)
    // parallelism must not be bounded by stratum cardinality: the
    // row_number rank window over the full data has to partition on the
    // 256-way range bucket too (the tiny per-bucket-counts window that
    // partitions on stratum alone holds ≤ strata·256 rows — intended)
    val rankWindows = plan.linesIterator.filter(l =>
      l.contains("row_number() windowspecdefinition"))
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("__b")),
      s"stratum-only rank window in:\n$plan")
  }

  test("corpus_curation runs the whole pipeline on a single hash exchange") {
    val df = SparkEntry.queries("corpus_curation")(spark, sf)
    df.collect()
    val plan = executedPlan(df)
    // dedup's 8-byte-hash exchange is the ONLY shuffle: stats, quality
    // filter, PII scrub, and hash split are all projection-only
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("tpch_q4 EXISTS runs as a semi join, never widening orders") {
    val plan = executedPlan(SparkEntry.queries("tpch_q4")(spark, sf))
    assert(plan.contains("LeftSemi"), s"plan was:\n$plan")
    // the semi join must carry the non-equi residual, not cross-product it
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
  }

  test("tpch_q7 broadcasts both copies of the nation dim") {
    val plan = executedPlan(SparkEntry.queries("tpch_q7")(spark, sf))
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts:\n$plan")
  }

  test("tpch_q19 keeps the OR-of-ANDs as an equi-join with residual") {
    val plan = executedPlan(SparkEntry.queries("tpch_q19")(spark, sf))
    // the shared l_partkey = p_partkey key must stay the join condition
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
    // the brand/size conjuncts push into the part scan
    assert(plan.contains("Brand#"), s"no pushed brand predicate in:\n$plan")
  }

  test("tpch_q2 broadcasts every dim around the two-level min-cost agg") {
    val plan = executedPlan(SparkEntry.queries("tpch_q2")(spark, sf))
    // part, supplier, nation, region, and the per-part min all broadcast;
    // the only exchanges are the two aggregations over lineitem pairs
    val broadcasts = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 4, s"expected >=4 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan was:\n$plan")
  }

  test("tpch_q21 folds EXISTS/NOT-EXISTS into one scan + order-key window") {
    val plan = executedPlan(SparkEntry.queries("tpch_q21")(spark, sf))
    // single-scan form: per-order supplier/lateness counts come from ONE
    // window over l_orderkey, not semi/anti self-joins re-scanning lineitem
    assert(plan.contains("Window"), s"plan was:\n$plan")
    assert(
      "Scan parquet .*lineitem".r.findAllIn(plan).size == 1,
      s"expected exactly one lineitem scan; plan was:\n$plan")
    assert(!plan.contains("SinglePartition"), s"plan was:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan was:\n$plan")
  }

  test("tpch_q11/q15/q22 use broadcast 1-row aggs, not global windows") {
    for (q <- Seq("tpch_q11", "tpch_q15", "tpch_q22")) {
      val plan = executedPlan(SparkEntry.queries(q)(spark, sf))
      assert(!plan.contains("Window"), s"$q plan was:\n$plan")
    }
  }

  test("corpus_shuffle ranks inside hash buckets, never one partition") {
    val df = SparkEntry.queries("corpus_shuffle")(spark, sf)
    df.collect()
    val planNode = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val globalWin = planNode.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => w
    }
    assert(globalWin.isEmpty, s"single-partition window in:\n$planNode")
  }

  test("token_chunking never computes the global offset in one partition") {
    val df = SparkEntry.queries("token_chunking")(spark, sf)
    df.collect()
    val planNode = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // the whole point of the two-level prefix sum: no WindowExec may see
    // SinglePartition input (the bucket offsets are a window-free join)
    val globalWin = planNode.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => w
    }
    assert(globalWin.isEmpty, s"single-partition window in:\n$planNode")
  }

  test("zipf_slope derives ranks from the frequency histogram: no " +
      "window ever sees a single-partition input (r10 de-window pin)") {
    val df = SparkEntry.queries("zipf_slope")(spark, sf)
    df.collect()
    val planNode = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val globalWin = planNode.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => w
    }
    assert(globalWin.isEmpty, s"single-partition window in:\n$planNode")
    // and the corpus is tokenized ONCE: every histogram/offset branch
    // reuses the freq exchange (r10 canonical-form fix)
    val scans = planNode.toString.linesIterator
      .count(l => l.contains("documents") && l.contains("ReadSchema"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$planNode")
  }

  test("stream_admission running sums are two-level: no window sees a " +
      "single-partition input, parallelism never bounded by source count") {
    val df = SparkEntry.queries("stream_admission")(spark, sf)
    df.collect()
    val planNode = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    val globalWin = planNode.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.child.outputPartitioning ==
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition => w
    }
    assert(globalWin.isEmpty, s"single-partition window in:\n$planNode")
    // the corpus is TOKENIZED once: the running-sum branch and the
    // offsets branch share one full-column scan (canonical-form fix);
    // the only other scan is the id-only 1-row max for the bucket
    // bounds (the chunkForTraining broadcast-bounds shape)
    val scans = planNode.toString.linesIterator
      .count(l => l.contains("documents") && l.contains("ReadSchema"))
    assert(scans <= 2, s"expected <=2 documents scans, got $scans:\n$planNode")
  }

  test("native simhash signatures stay inside whole-stage codegen " +
      "(the production default; the catalog entry trades codegen for " +
      "its md5 oracle twin — r12)") {
    val df = graft.engine.Extensions.simhashSignatures(
      graft.engine.Tables.documents(spark, sf), "text", "doc_id")
    df.collect()
    val plan = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    val projLine = plan.linesIterator.find(_.contains("simhash64"))
    assert(projLine.exists(_.contains("*(")),
      s"simhash projection not codegen'd:\n$plan")
    // and the catalog form (the same kernel over TokenHash.Md5_60) is
    // a single narrow no-shuffle projection over the scan
    val cat = SparkEntry.queries("simhash_signatures")(spark, sf)
    cat.collect()
    val catPlan = (cat.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }).toString
    val exchanges = catPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 0,
      s"catalog simhash must stay shuffle-free:\n$catPlan")
  }

  test("sketch catalog entries run the graft kernel, never a lambda: " +
      "simhash_signatures, simhash_neardup, minhash_neardup") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    import graft.functions.{MinHashSig, SimHash64}
    def has(df: DataFrame)(p: Expression => Boolean): Boolean =
      df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(p)))
    for ((name, isKernel) <- Seq[(String, Expression => Boolean)](
        "simhash_signatures" -> (_.isInstanceOf[SimHash64]),
        "simhash_neardup" -> (_.isInstanceOf[SimHash64]),
        "minhash_neardup" -> (_.isInstanceOf[MinHashSig]))) {
      val df = SparkEntry.queries(name)(spark, sf)
      assert(has(df)(isKernel), s"$name: no kernel expression in\n" +
        df.queryExecution.optimizedPlan)
      assert(!has(df)(_.isInstanceOf[LambdaFunction]),
        s"$name: a lambda in\n" + df.queryExecution.optimizedPlan)
    }
  }

  test("funnel windows stack on ONE user exchange (+ the tiny step rollup)") {
    val plan = executedPlan(SparkEntry.queries("funnel_steps")(spark, sf))
    val userExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected 1 user_id exchange, got $userExchanges:\n$plan")
  }

  test("embed_quantize is projection-only: no exchange at any scale") {
    // the catalog entry adds an orderBy for the comparator; the OPERATOR
    // itself must not exchange
    val df = graft.engine.Analytics.quantizeEmbeddings(
      graft.engine.Tables.embeddings(spark, sf), "embedding", "vec_id")
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange"), s"plan was:\n$plan")
  }

  test("weighted_sample plans per-partition top-n, not a global sort") {
    val df = graft.engine.Analytics.weightedSample(
      graft.engine.Tables.orders(spark, sf), "o_orderkey", "o_totalprice", 100)
    val plan = executedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("fuzzyDedupPairs prunes to candidates BELOW the shingle join") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.engine.Extensions.fuzzyDedupPairs(
      graft.engine.Tables.documents(spark, sf), "text", "doc_id",
      maxHamming = 16, minJaccard = 0.5)
    val plan = df.queryExecution.optimizedPlan
    // the inverted-index self-join is the inner equi-join on `shingle`
    val shingleJoins = plan.collect {
      case j: Join if j.joinType.sql == "INNER" &&
        j.condition.exists(_.references.exists(_.name == "shingle")) => j
    }
    assert(shingleJoins.nonEmpty, s"no shingle join in:\n$plan")
    // every corpus-wide scoring join must see only candidate docs: a
    // LeftSemi prune sits in BOTH child subtrees of the shingle join
    shingleJoins.foreach { j =>
      j.children.foreach { child =>
        val semis = child.collect { case s: Join if s.joinType == LeftSemi => s }
        assert(semis.nonEmpty,
          s"shingle-join child lacks the candidate semi-prune:\n$child")
      }
    }
  }

  test("checkByGroup: every rule folds into ONE scan and ONE group " +
      "exchange — rules never re-read the table") {
    val df = graft.engine.Tables.orders(spark, sf)
    val plan = executedPlan(graft.engine.Quality.checkByGroup(df,
      "o_orderstatus", Seq(
        graft.engine.Quality.Complete("o_custkey", 1.0),
        graft.engine.Quality.InRange("o_totalprice", 0.0, 1e6, 1.0),
        graft.engine.Quality.InSet("o_orderpriority",
          Seq("1-URGENT", "2-HIGH"), 0.1))))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(o_orderstatus"))
    assert(exchanges == 1, s"expected 1 group exchange, got $exchanges:\n$plan")
  }

  test("groupTopK pre-reduces map-side: partial+final aggregate, " +
      "no window, no partition-wide sort") {
    val df = graft.engine.Analytics.groupTopK(
      graft.engine.Tables.orders(spark, sf), Seq("o_custkey"),
      "o_totalprice", "o_orderkey", k = 3)
    val plan = executedPlan(df)
    assert(!plan.contains("Window"), s"plan was:\n$plan")
    assert(!plan.contains(" Sort "), s"plan was:\n$plan")
    // TypedImperativeAggregate plans as ObjectHashAggregate; the partial
    // (map-side) instance is what bounds the shuffle to k rows per group
    val objAggs = plan.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate:\n$plan")
  }

  test("cosineTopK and pqTopK rank via the bounded heap: no window, " +
      "no partition-wide sort, partial+final ObjectHashAggregate") {
    // the search family's 100 TB contract: scoring streams map-side into
    // TopKPairs (k rows per query per map partition cross the wire), so
    // neither plan may contain the row_number() window form that sorts
    // the whole scored corpus per query (Analytics.groupTopK doctrine)
    val emb = graft.engine.Tables.embeddings(spark, sf)
    for ((name, df) <- Seq(
        "cosineTopK" -> graft.engine.Extensions.cosineTopK(
          emb, "embedding", "vec_id", Seq(0L, 1L, 2L), k = 5),
        "pqTopK" -> graft.engine.Extensions.pqTopK(
          emb, "embedding", "vec_id", Seq(0L, 1L, 2L), k = 5),
        "annBucketed" -> graft.engine.Extensions.annBucketed(
          emb, "embedding", "vec_id", Seq(0L, 1L, 2L), k = 5))) {
      val plan = executedPlan(df)
      assert(!plan.contains("Window"), s"$name plan was:\n$plan")
      assert(!plan.contains(" Sort "), s"$name plan was:\n$plan")
      val objAggs = plan.linesIterator.count(_.contains("ObjectHashAggregate"))
      assert(objAggs >= 2,
        s"$name: expected partial+final ObjectHashAggregate:\n$plan")
      // the query batch is scored inside one per-row kernel
      // (graft.functions.QueryBatch), never by a nested-loop join that
      // re-runs corpus-side kernels once per (row, query) pair
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan was:\n$plan")
      if (name == "annBucketed") {
        // bucket collisions are tested inside the kernel: no probe join,
        // no (query, neighbor) dedup exchange — only the heap's exchange
        assert(!plan.contains("Join"), s"$name plan was:\n$plan")
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        assert(exchanges == 1, s"$name: expected 1 exchange:\n$plan")
      }
    }
    // annIvf queries a transient IvfIndex, whose probe is resolved on
    // the driver: no centroid cross join and no rank window. In annIvf
    // and bm25_topk the corpus-sized candidate rank is heap-based; the
    // one window bm25_topk has is the text index's document frequency,
    // a count over (query, term), never a rank
    val ivfPlan = executedPlan(graft.engine.Extensions.annIvf(
      emb, "embedding", "vec_id", Seq(0L, 1L, 2L), k = 5))
    assert(!ivfPlan.contains("Window") &&
      !ivfPlan.contains("BroadcastNestedLoopJoin"),
      s"annIvf plan was:\n$ivfPlan")
    val bmPlan = executedPlan(SparkEntry.queries("bm25_topk")(spark, sf))
    val bmWindows = bmPlan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(bmWindows.forall(w => w.contains("count(1)") &&
      !w.contains("row_number") && !w.contains("rank(")),
      s"bm25_topk plan was:\n$bmPlan")
    assert(bmPlan.contains("topkpairs"), s"bm25_topk plan was:\n$bmPlan")
  }

  test("lastTouchAttribution exchanges on the user exactly once " +
      "(+ the tiny channel rollup)") {
    val df = graft.engine.Analytics.lastTouchAttribution(
      graft.engine.Tables.events(spark, sf), "user_id", "event_type",
      "ts", "event_id", "purchase", 7200L)
    val plan = executedPlan(df)
    val userExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges == 1,
      s"expected 1 user_id exchange, got $userExchanges:\n$plan")
  }

  test("overlapChunks is projection-only: no exchange at any scale") {
    val df = graft.engine.Extensions.overlapChunks(
      graft.engine.Tables.documents(spark, sf), "doc_id", "n_chars",
      512, 384)
    val plan = executedPlan(df)
    assert(!plan.contains("Exchange"), s"plan was:\n$plan")
  }

  test("rollingZScore stacks all three window aggregates on ONE key " +
      "exchange") {
    val df = graft.engine.Analytics.rollingZScore(
      graft.engine.Tables.events(spark, sf)
        .withColumn("__es",
          org.apache.spark.sql.functions.col("ts").cast("long")),
      "user_id", "__es", "event_id", "value", 30, 2.0)
    val plan = executedPlan(df)
    val keyExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(keyExchanges == 1,
      s"expected 1 user_id exchange, got $keyExchanges:\n$plan")
    val windows = plan.linesIterator.count(_.trim.startsWith("Window"))
    assert(windows <= 1, s"windows did not stack:\n$plan")
  }

  test("tfidf_top_terms derives df and N from the tf aggregate's own " +
      "exchange — ONE corpus scan, no re-tokenization per branch") {
    val plan = executedPlan(SparkEntry.queries("tfidf_top_terms")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    // with count(lit(1)) in the df/N branches Catalyst prunes tf's
    // count, the subtrees stop matching tf's exchange, and every branch
    // re-scans + re-tokenizes the corpus (was 3 scans)
    assert(scans == 1, s"expected 1 corpus scan, got $scans:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse:\n$plan")
  }

  test("bm25_topk reuses the tf exchange for df and dl — at most the " +
      "corpus scan plus one derived-stats scan, never one per branch") {
    val plan = executedPlan(SparkEntry.queries("bm25_topk")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected <=2 corpus scans, got $scans:\n$plan")
    assert(plan.contains("ReusedExchange"), s"no exchange reuse:\n$plan")
  }

  test("basket_affinity builds pairs in-array from the basket rollup — " +
      "no self-join, so the only joins are the two item-count attaches " +
      "and the 1-row basket-count broadcast") {
    val plan = executedPlan(SparkEntry.queries("basket_affinity")(spark, sf))
    assert(plan.contains("Generate explode"), s"no in-array pair build:\n$plan")
    val joins = plan.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin") ||
        l.contains("NestedLoopJoin"))
    assert(joins <= 3, s"expected <=3 join nodes (was 4 with the " +
      s"basket-keyed self-join), got $joins:\n$plan")
  }

  test("scd2 stacks its change-filter and interval-close windows on ONE " +
      "key exchange") {
    val df = graft.engine.Analytics.scd2(
      graft.engine.Tables.orders(spark, sf).withColumn("__ots",
        org.apache.spark.sql.functions.col("o_orderdate")
          .cast("timestamp").cast("long")),
      Seq("o_custkey"), "__ots", "o_orderkey", Seq("o_orderstatus"))
    val plan = executedPlan(df)
    val keyExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(o_custkey"))
    assert(keyExchanges == 1,
      s"expected 1 o_custkey exchange, got $keyExchanges:\n$plan")
  }

  test("mutual_info reads each input once: marginals and the total ride " +
      "the cell aggregate's own exchange, never a re-scan") {
    val plan = executedPlan(SparkEntry.queries("mutual_info")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected <=2 scans (customer+orders once each), " +
      s"got $scans:\n$plan")
    val reused = plan.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 3, s"expected the cell exchange reused for both " +
      s"marginals and the total, got $reused reuses:\n$plan")
  }

  test("cramers_v reads each input once: both marginals and the total " +
      "ride the cell aggregate's exchange (round-8 o²/e−n form kept " +
      "the reuse shape)") {
    val plan = executedPlan(SparkEntry.queries("cramers_v")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected <=2 scans (customer+orders once each), " +
      s"got $scans:\n$plan")
    val reused = plan.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 3, s"expected the cell exchange reused for both " +
      s"marginals and the total, got $reused reuses:\n$plan")
  }

  test("edge_jaccard scans lineitem once and intersects adjacency " +
      "in-array — no wedge enumeration (at most the two endpoint " +
      "adjacency attaches)") {
    val plan = executedPlan(SparkEntry.queries("edge_jaccard")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$plan")
    // r19: the intersection is the codegen'd SortedIntersectCount
    // merge walk on integral ids (array_intersect remains the
    // generic-kernel fallback for other id types)
    assert(plan.contains("sortedintersectcount") ||
        plan.contains("array_intersect"),
      s"no in-array intersection:\n$plan")
    val joins = plan.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin") ||
        l.contains("NestedLoopJoin"))
    assert(joins <= 2, s"expected <=2 join nodes (a wedge enumeration " +
      s"needs a third, neighbor-to-neighbor join), got $joins:\n$plan")
    // round-8 scaling fix: the adjacency attach must be a HASH join —
    // sort-merge sorts the exploded O(E) stream with an adjacency
    // array on every row, which the replication sweep recorded in
    // BASELINE.md §scaling measured going super-linear past executor
    // memory
    assert(!plan.contains("SortMergeJoin"),
      s"adjacency attach regressed to sort-merge:\n$plan")
  }

  test("span_dedup never sorts the span-keyed stream: df rides a " +
      "partial hash aggregate + shuffle_hash semi-join, and the only " +
      "window is the doc-partitioned merge") {
    val plan = executedPlan(SparkEntry.queries("span_dedup")(spark, sf))
    // the heavy-span de-skew: flagged spans attach as a hash-join probe
    // (streaming, spill-free on the probe side), never as
    // count(1) OVER (PARTITION BY __span) which sorts a boilerplate
    // span's whole postings list in one task. Price: the span stream
    // derives twice (documented tradeoff in spanDedup's scaladoc).
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"expected a shuffle_hash semi-join df attach:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"df attach must not sort the span stream:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span matching must go through the df rollup, not a product:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"expected at most 2 documents scans, got $scans:\n$plan")
    // all remaining window sorts are doc-partitioned (the lag+sum merge
    // pair) — no span-keyed window may survive
    val windowLines = plan.linesIterator.filter(
      _.contains("windowspecdefinition")).toSeq
    assert(windowLines.forall(_.contains("__pos")),
      s"span-keyed window survived:\n$plan")
  }

  test("cosine_neardup_blocked never cartesian-joins (the exact form's " +
      "cross join is exactly what the blocking removes) and broadcasts " +
      "the surviving cell-pair list") {
    val plan = executedPlan(
      SparkEntry.queries("cosine_neardup_blocked")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"blocked plan must not contain a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"survivor cell-pair list should broadcast:\n$plan")
  }

  test("token_pmi tokenizes the corpus ONCE: marginals and the total " +
      "reuse the pair-count exchange, and the top-N cut is a bounded " +
      "heap, not a global sort") {
    val plan = executedPlan(SparkEntry.queries("token_pmi")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("documents") && l.contains("ReadSchema"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    assert(plan.contains("ReusedExchange"), s"plan was:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
  }

  test("bucketed_join: the join itself is exchange-free — no exchange " +
      "keyed on either join key anywhere in the plan") {
    val plan = executedPlan(SparkEntry.queries("bucketed_join")(spark, sf))
    assert(plan.contains("SortMergeJoin"), s"plan was:\n$plan")
    for (k <- Seq("o_custkey", "c_custkey"))
      assert(!plan.contains(s"Exchange hashpartitioning($k"),
        s"join key $k was shuffled — bucketing not honored:\n$plan")
  }

  test("target_encode_oof reads orders twice at most: the row stream, " +
      "plus ONE (cat, fold) aggregate whose exchange the totals and " +
      "the prior both reuse") {
    val plan = executedPlan(SparkEntry.queries("target_encode_oof")(spark, sf))
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected 2 orders scans, got $scans:\n$plan")
    val reused = plan.linesIterator.count(_.contains("ReusedExchange"))
    assert(reused >= 2, s"expected >=2 reuses, got $reused:\n$plan")
  }

  test("bloom_decontaminate never shuffles the train shingle stream " +
      "on the hash key — the filter reaches it as a broadcast scalar") {
    val plan = executedPlan(
      SparkEntry.queries("bloom_decontaminate")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning(__h"),
      s"train shingles were shuffled on the hash key — that is the " +
        s"exact form's plan, not the bloom path:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan was:\n$plan")
  }

  test("vocab_encode: the vocabulary rides in as a broadcast map and " +
      "the top-V cut is a bounded heap — the encode adds no join") {
    val plan = executedPlan(SparkEntry.queries("vocab_encode")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 2, s"expected 2 documents scans, got $scans:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan was:\n$plan")
  }

  test("ewma_smooth: the corpus-sized work is the daily rollup — at " +
      "most two hash exchanges (daily, then per-group collect)") {
    val plan = executedPlan(SparkEntry.queries("ewma_smooth")(spark, sf))
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
  }

  test("ks_test reads orders ONCE: bounds, bucket totals and offsets " +
      "all reuse the histogram exchange (the rocAuc consume-trick)") {
    val plan = executedPlan(SparkEntry.queries("ks_test")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 orders scan, got $scans:\n$plan")
  }

  test("w1_drift reads orders ONCE: the predecessor machinery rides " +
      "the same histogram exchange as the prefix sums") {
    val plan = executedPlan(SparkEntry.queries("w1_drift")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 orders scan, got $scans:\n$plan")
  }

  test("corpus_report reads documents ONCE: totals, distinct texts, " +
      "head fingerprints and the language mix all reuse the " +
      "(text, lang) group exchange") {
    val plan = executedPlan(SparkEntry.queries("corpus_report")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
  }

  test("dup_by_source reads documents ONCE: per-key totals re-aggregate " +
      "the (key, source) table") {
    val plan = executedPlan(SparkEntry.queries("dup_by_source")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
  }

  test("embedding_qa reduces the vector stream in ONE scan and ONE " +
      "dimension-keyed exchange — no window, no join") {
    val plan = executedPlan(SparkEntry.queries("embedding_qa")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 embeddings scan, got $scans:\n$plan")
    assert(!plan.contains("Window"), s"plan was:\n$plan")
    assert(!plan.contains("Join"), s"plan was:\n$plan")
  }

  test("chunk_dedup chunks the corpus ONCE: doc frequency re-aggregates " +
      "the (hash, doc) table instead of re-chunking") {
    val plan = executedPlan(SparkEntry.queries("chunk_dedup")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
  }

  test("psi_split bins both segments in ONE scan and the only window " +
      "runs over the bounded bin frame") {
    val plan = executedPlan(SparkEntry.queries("psi_split")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      (l.contains("FileScan") || l.contains("Scan parquet")) &&
        l.contains("orders"))
    assert(scans == 1, s"expected 1 orders scan, got $scans:\n$plan")
  }

  test("drift_series reads orders ONCE: the reference histogram, the " +
      "bucket totals and the grid completion all derive from the " +
      "cached buckets×bins cell frame") {
    val plan = executedPlan(SparkEntry.queries("drift_series")(spark, sf))
    // the corpus scan happens once, INSIDE the eagerly-materialized
    // cache. In the printed plan every InMemoryRelation node echoes
    // its cached child (which contains the one orders FileScan), so
    // the pin is: every orders-scan line is such an echo — the count
    // of orders scans equals the count of InMemoryRelation printouts,
    // and each cached relation is consumed via InMemoryTableScan
    // (never re-executed). An uncached branch would add an orders
    // FileScan with no matching InMemoryRelation and break the bijection.
    val scans = plan.linesIterator.count(l =>
      (l.contains("FileScan") || l.contains("Scan parquet")) &&
        l.contains("orders"))
    val rels = plan.linesIterator.count(_.contains("InMemoryRelation"))
    val reads = plan.linesIterator.count(_.contains("InMemoryTableScan"))
    // Spark 4.1 prints each InMemoryRelation's cached child twice
    // (original + AQE-replanned copy) → exactly 2 echoed FileScans per
    // relation; an uncached branch would break the 2:1 bijection
    assert(rels > 0 && reads == rels && scans == 2 * rels,
      s"expected all orders scans inside cached-relation printouts " +
        s"(scans=$scans, relations=$rels, tableScans=$reads):\n$plan")
  }

  test("js_divergence tokenizes the corpus ONCE: totals and the grand " +
      "total ride the (segment, token) aggregate's exchange") {
    val plan = executedPlan(SparkEntry.queries("js_divergence")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
  }

  test("bpe_encode's APPLY pass is one pure projection: a single " +
      "documents scan, no hash exchange (the merge table rides as " +
      "literals; the only exchange is the entry's oracle-order sort)") {
    val plan = executedPlan(SparkEntry.queries("bpe_encode")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the encode projection must not shuffle on a key:\n$plan")
    // at most two exchanges, neither keyed: the rangepartitioning the
    // catalog entry's .orderBy("doc_id") adds for the driver's ordered
    // oracle compare, plus (on an unsplittable toy source only) the
    // r18 widen's RoundRobin — the assertion that was stale through
    // r18's red suite (VERDICT r18 #1: the widen landed without
    // updating this count; at any wide source the RoundRobin no-ops
    // away and the order-by exchange is alone again)
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    val roundRobins = plan.linesIterator.count(
      _.contains("Exchange RoundRobinPartitioning"))
    assert(exchanges - roundRobins == 1 && roundRobins <= 1,
      s"expected the order-by exchange plus at most one widen " +
        s"RoundRobin:\n$plan")
  }

  test("html_extract is one pure projection: a single documents scan, " +
      "no hash exchange (blocks, link densities, and the re-join are " +
      "all regexp/HOF expressions; the only exchange is the entry's " +
      "oracle-order sort)") {
    val plan = executedPlan(SparkEntry.queries("html_extract")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the extraction must not shuffle on a key:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange "))
    assert(exchanges == 1, s"expected only the order-by exchange:\n$plan")
  }

  test("benford_digits scans lineitem ONCE: the 9-row grand total " +
      "rides the digit aggregate's exchange (reuse), not a second " +
      "corpus scan") {
    val plan = executedPlan(SparkEntry.queries("benford_digits")(spark, sf))
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$plan")
  }

  test("dsir_resample's top-k is a bounded TakeOrdered, never a global " +
      "sort, and the weight pass adds no extra corpus scan") {
    val plan = executedPlan(SparkEntry.queries("dsir_resample")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), s"plan was:\n$plan")
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    // the target flag rides the feature stream, so raw counts, target
    // counts, totals and the per-doc rollup ALL reuse one tokenize pass
    assert(scans == 1, s"expected 1 documents scan, got $scans:\n$plan")
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the
  * missing step between near-dup PAIRS and dedup CLUSTERS (transitive
  * closure: a~b, b~c ⇒ {a,b,c} share one survivor).
  *
  * Each round every node adopts the minimum label among itself and its
  * neighbors; convergence in O(diameter) rounds. Each round is two
  * shuffles (join + groupBy) of the edge list — the standard
  * Spark-native CC shape. Lineage is truncated every round so long
  * chains don't accumulate a deep plan (the classic
  * iterative-algorithm failure mode at scale); pass `checkpointDir`
  * for reliable checkpoints on a real cluster
  * ([[graft.engine.Lineage]]).
  *
  * Deterministic: labels are mins over a fixed edge set.
  */
object ConnectedComponents {

  /** @param nodes  one column `idCol` (covers isolated nodes)
    * @param edges  columns `srcCol`, `dstCol` (undirected; self-loops ok)
    * @param checkpointDir reliable checkpoint dir for the per-round
    *   lineage cuts (cluster posture — survives executor loss); default
    *   executor-local (see [[graft.engine.Lineage]])
    * @return (idCol, component) where component = min node id reachable
    */
  def components(nodes: DataFrame, edges: DataFrame, idCol: String,
      srcCol: String, dstCol: String, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    // symmetrize by exploding each edge into both directions — ONE
    // evaluation of the (often expensive: near-dup scoring) edge plan,
    // where a union of two selects would execute it twice
    val sym = edges
      .select(explode(array(
        struct(col(srcCol).as("src"), col(dstCol).as("dst")),
        struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .cache()
    // ── Bounded driver-side union-find short-circuit (opt r19, the
    // pqCodebookOf bounded-fit doctrine): a near-dup pair graph is the
    // scorer's BOUNDED output (pairs above a production threshold ≪
    // corpus²), so when the symmetric edge set fits a driver budget,
    // one collect + union-find replaces the O(log diameter) rounds of
    // 2-shuffle jobs below. The result is EXACTLY the loop's fixpoint —
    // component = min reachable id, computed as the min over each
    // union-find set (integral ids, so Spark's `min` ordering and the
    // JVM's coincide; the local≡distributed law is pinned in
    // ConnectedComponentsSpec). At any real scale the count gate sends
    // graphs above the threshold down the distributed loop unchanged —
    // the threshold is a DRIVER-MEMORY bound, not a local-mode tuning
    // constant: at the 2M-edge default the local path holds ≈190 MB of
    // transient driver heap (measured: 2M symmetric edges over 2M
    // nodes, every structure live, retained after a full GC; the Row +
    // boxed-tuple collect it replaced held ≈510 MB), and the whole call
    // runs in a 2 GB driver heap. Non-integral
    // id types always take the distributed loop (whose own r18
    // decimal-sum certificate already requires numerically-castable
    // ids — every catalog caller uses long ids).
    val localEdgeCap = spark.conf.getOption(
      "spark.graft.cc.localEdgeThreshold").map(_.toLong)
      .getOrElse(2000000L)
    val integralIds = sym.schema("src").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // the count is one pass over the just-cached frame — the loop's
    // first certificate aggregate paid the same materialization
    if (integralIds && localEdgeCap > 0 && sym.count() <= localEdgeCap) {
      val labels = localComponents(sym, spark)
      sym.unpersist()
      val lab = labels.withColumnRenamed("id", "__cc_id")
      return nodes.select(col(idCol))
        .join(lab, col(idCol) === col("__cc_id"), "left")
        .select(col(idCol),
          coalesce(col("comp"), col(idCol)).as("component"))
    }
    // EAGER cuts, deliberately (r18 measured both): every round's
    // label frame feeds a join (msgs, and the jump self-join), and a
    // LAZY cut leaves the LogicalRDD without size stats at planning
    // time — the per-round joins lose their broadcast plan and the
    // min-of-5 read 1.3× slower. The materialization job is the price
    // of keeping stats-informed planning each round.
    val ckpt = graft.engine.Lineage.truncator(nodes.sparkSession,
      checkpointDir)
    // iterate ONLY over nodes that appear in edges — isolated nodes are
    // their own component by definition, and in near-dup graphs the
    // edge-touched subgraph is a tiny fraction of the corpus, so the
    // per-round joins shrink from |corpus| to |dup-candidates|
    var labels = ckpt(sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    // Convergence certificate: every step takes a min, so each node's
    // label is monotone non-increasing — the label SUM strictly
    // decreases until the fixpoint, and an unchanged sum ⇒ no label
    // changed. A one-row aggregate over the just-checkpointed frame
    // replaces a join-based changed-count: one fewer shuffle per round.
    // decimal(38,0) keeps the sum exact (no long overflow at any n).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    // sum over an empty frame is null — the emptiness check rides the
    // same aggregate job that materializes the lazy cut (one action,
    // where isEmpty-then-sum was two)
    var prevSum = labelSum(labels)
    var converged = prevSum == null
    var iter = 0
    while (!converged && iter < maxIter) {
      // (1) neighbor min
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      // next feeds BOTH sides of the jump self-join below; checkpoint
      // it so the neighbor-min aggregation runs once per round, not
      // twice (AQE re-plans defeat ReuseExchange on this shape).
      val next = ckpt(labels.select(col("id"), col("comp"))
        .unionByName(msgs)
        .groupBy("id").agg(min("comp").as("comp")))
      // (2) pointer jump: comp := label(comp) — labels only decrease,
      // so this path-halving squares the propagation rate
      // (O(log diameter) rounds instead of O(diameter)). A DOUBLE
      // jump per round was tried and reverted (opt r18): the
      // un-checkpointed second self-join doubled every round's plan
      // and drove driver planning time from ~11 s to 75+ s on
      // semantic_dedup_delete — planning, not execution, is the
      // marginal cost of plan depth here (guide §7.3).
      val compMap = next.select(col("id").as("__mid"),
        col("comp").as("__mcomp"))
      val jumped = ckpt(next.join(compMap,
          next("comp") === compMap("__mid"), "left")
        .select(col("id"),
          coalesce(col("__mcomp"), col("comp")).as("comp")))
      // ONE convergence certificate per round (opt r18; the old loop
      // also summed `next` mid-round to skip the last jump): labels
      // are monotone non-increasing through BOTH steps, so
      // sum-unchanged across the full round ⇔ neighbor-min changed
      // nothing AND the jump changed nothing ⇔ fixpoint — detected
      // on the same round with identical labels (at the neighbor-min
      // fixpoint the jump is the identity).
      val nextSum = labelSum(jumped)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = jumped
      iter += 1
    }
    sym.unpersist()
    val lab = labels.withColumnRenamed("id", "__cc_id")
    nodes.select(col(idCol))
      .join(lab, col(idCol) === col("__cc_id"), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("component"))
  }

  /** Union-find over a collected symmetric edge list: (id, comp) for
    * every edge-touched node, comp = min id of its component — the
    * distributed loop's exact fixpoint. Union by rank + path halving,
    * one primitive pass; min-id is folded into the union so no second
    * traversal is needed. Returns a frame in the edge columns' original
    * integral type.
    *
    * Everything on the driver is primitive: each partition packs its
    * endpoints into one long array (no Row, no boxed tuple per edge),
    * node ids are the sorted distinct endpoints (a node's dense index
    * is its binary-search position, so the smallest index of a set IS
    * its min id), and edges are two int arrays of dense indices. */
  private def localComponents(sym: DataFrame,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val idType = sym.schema("src").dataType
    // null endpoints name no node: the distributed loop's equi-joins
    // drop them
    val parts: Array[Array[Long]] = sym
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect()
    val ends = new Array[Long](parts.iterator.map(_.length).sum)
    var off = 0
    parts.foreach { p =>
      System.arraycopy(p, 0, ends, off, p.length); off += p.length }
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(i) != sorted(n - 1)) {
        sorted(n) = sorted(i); n += 1
      }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    def nodeOf(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Byte](n)
    val minIdx = Array.tabulate(n)(identity) // per-root min index
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    i = 0
    while (i < ends.length) {
      val ra = find(nodeOf(ends(i))); val rb = find(nodeOf(ends(i + 1)))
      if (ra != rb) {
        val (hi, lo) =
          if (rank(ra) < rank(rb)) (rb, ra) else (ra, rb)
        parent(lo) = hi
        if (rank(hi) == rank(lo)) rank(hi) = (rank(hi) + 1).toByte
        if (minIdx(lo) < minIdx(hi)) minIdx(hi) = minIdx(lo)
      }
      i += 2
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) {
      out(i) = (ids(i), ids(minIdx(find(i))))
      i += 1
    }
    import spark.implicits._
    // parallelize (not a LocalRelation): at the threshold this is
    // millions of rows — embedding them in the plan would make
    // planning itself the bottleneck (guide §7.3)
    spark.createDataset(spark.sparkContext.parallelize(out.toSeq,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          out.length / 65536 + 1))))
      .toDF("id", "comp")
      .select(col("id").cast(idType).as("id"),
        col("comp").cast(idType).as("comp"))
  }
}

package graft.engine

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, FloatType,
  IntegerType, LongType, ShortType, StructField, StructType}

/** Build-once / query-many IVF (inverted-file) similarity index over an
  * embedding column. A vector store builds the index ONCE and serves
  * many query batches from it; the ad-hoc [[Extensions.annIvf]] is a
  * transient index that answers one batch and is dropped:
  *
  *   - '''build''': sampled KMeans fit (bounded cost at any corpus
  *     size, [[IvfIndex.fitFor]]) + one corpus pass to assign cells;
  *   - '''save''': the corpus written parquet-partitioned BY CELL,
  *     beside the quantizer centroids;
  *   - '''query''': resolve the probe on the driver
  *     ([[IvfIndex.Prober]]: one collect of the query rows, the
  *     centroid ranking evaluated by a projection analyzed once per
  *     handle), then read ONLY the probed cells — on the saved layout
  *     that is file-level partition pruning: a 100 TB corpus probed at
  *     nprobe=4 of 256 cells touches ~1.6 TB of files, not 100 TB.
  *
  * The only data that ever reaches the driver is the query rows and
  * their probe sets. The queries are bound into the scan by reference
  * — one [[graft.functions.QueryBatch]] mapping each cell to the query
  * slots that probe it, so each row is scored once, against those
  * queries only, and two requests compile the same code — and only
  * the probed cell ids become literals, as a partition filter, because
  * that is what lets the scan prune files. Corpus rows never leave the
  * executors.
  */
final class IvfIndex private (
    centroids: Seq[(Int, Array[Float])],
    private[engine] val corpus: DataFrame,
    val idCol: String,
    val embCol: String,
    tree: Option[Extensions.TreeQuantizer] = None) {

  /** The coarse quantizer's centroids in cell order — driver-known
    * literals (the fit is bounded), exposed for the deferred DuckDB
    * twin generators ([[PqOracles]]: a pruned query over this index
    * is replayable once the centroids are known). */
  private[engine] def centroidArrays: Seq[Array[Float]] =
    centroids.sortBy(_._1).map(_._2)

  /** The raw (cell, centroid) pairs — see [[IvfIndex.centroidPairsOf]]. */
  private[engine] def centroidPairs: Seq[(Int, Array[Float])] = centroids

  /** The tree quantizer a tree-mode index queries with (None = flat) —
    * for a LOADED index this is the sidecar round-trip, i.e. exactly
    * the floats [[query]]'s probe kernels see, which is what the
    * deferred tree twin must replay ([[PqOracles.ivfTreeSql]]). */
  private[graft] def treeQuantizer: Option[Extensions.TreeQuantizer] =
    tree

  // the probe rule, analyzed once per handle and nprobe
  private lazy val prober = new IvfIndex.Prober(corpus.sparkSession,
    centroids, tree, (q, c) => -Extensions.cosine(q, c))

  /** The corpus rows of `queryIds` as (query_id, __q): the lookup
    * [[queryByIds]] collects, and the one [[HybridIndex.queryByIds]]
    * folds into its single request collect. A filter by id prunes no
    * cell, so it reads every cell directory. */
  private[engine] def queryVectors(queryIds: Seq[Long]): DataFrame =
    corpus.filter(Extensions.idsIn(corpus, idCol, queryIds))
      .select(col(idCol).as("query_id"), col(embCol).as("__q"))

  /** Exact cosine top-k within the probed cells for each query id
    * (query vectors are looked up in the corpus; each copy of a
    * duplicated id probes its own cells):
    * (query_id, neighbor_id, cosine_sim, rank).
    */
  def queryByIds(queryIds: Seq[Long], k: Int, nprobe: Int): DataFrame =
    query(queryVectors(queryIds), k, nprobe)

  /** Exact cosine top-k within the probed cells for external query
    * vectors: `queries` must carry (query_id, __q: array<float>), the
    * ids integral; a null id queries nothing.
    */
  def query(queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    search(IvfIndex.QueryVectors.collect(queries), k, nprobe)

  /** [[query]] over query rows the driver already holds. The norms
    * are computed once per row inside the batch ([[graft.functions
    * .QueryBatch.Cosine]]) and the scalar formula is the Catalyst one
    * every cosine path runs, so scores are those of the per-pair
    * `join(probed, "__cell")` plan bit for bit. */
  private[engine] def search(qv: IvfIndex.QueryVectors, k: Int,
      nprobe: Int): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val probes = prober.resolve(qv, nprobe)
    val vecs = qv.vecs.map(v =>
      graft.functions.QueryBatch.decodeVector(v, qv.vecFloat))
    val batch = new graft.functions.QueryBatch.Cosine(qv.ids,
      vecs.map(_._1), vecs.map(_._2), probes.nq, probes.cellSlots)
    val p = (f: String) => col(s"__p.$f")
    corpus.filter(Extensions.partitionIn("__cell", probes.cells))
      .select(col(idCol).as("neighbor_id"),
        explode(graft.functions.QueryBatch.scoreProbed(col(embCol),
          col(idCol).cast("long"), col("__cell"), batch)).as("__p"))
      .select(p("query_id").cast(qv.idType).as("query_id"),
        col("neighbor_id"),
        round(when(p("ne") =!= 0 && p("nq") =!= 0,
          p("dot") / (p("ne") * p("nq"))).otherwise(0.0), 6)
          .as("cosine_sim"))
      // probed cells bound the EXPECTED candidate count, not the worst
      // case (skewed clustering) — bounded-heap rank, not a per-query
      // window sort (see Extensions.topKBy)
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "cosine_sim", k, smallestFirst = false))
  }

  /** Persist the index: centroids + the corpus partitioned by cell.
    * [[IvfIndex.load]] reads it back with the partition layout intact.
    *
    * Saving is a FULL overwrite of the index path, so any epoch/
    * generation lifecycle state from a previous index at the same
    * path is reset first: a path that has been through
    * [[IvfIndex.compactEpochs]] carries a `_CURRENT` pointer naming a
    * gen-N root, and writing the fresh corpus into the legacy
    * `$path/cells` while that pointer survives would leave load()
    * silently serving the OLD generation's vectors under the NEW
    * quantizer (ADVICE r12). Same for leftover claimed epochs (their
    * rows belong to the replaced index) and the PQ sidecar (encoded
    * under the replaced quantizer's cells).
    */
  def save(path: String): Unit = {
    val spark = corpus.sparkSession
    locally {
      // NOTE: quantizer_tree is deliberately NOT in this doomed list.
      // save() is non-atomic (a full overwrite in place); the one
      // failure mode that used to be SILENT was a crash mid-re-save
      // over a tree-built index after the sidecar delete — the old
      // tree-assigned cells survive with no sidecar, so every later
      // append resolves the FLAT rule: mixed layouts with no error
      // (ADVICE r15). The sidecar is now (a) overwritten, never
      // pre-deleted, on a tree save, (b) deleted only AFTER the new
      // cells land on a flat save, and (c) tied to its quantizer by
      // the `_qv` digest marker that [[IvfIndex.loadTree]] validates.
      // Scope of that guarantee (ADVICE r16): for r16+ sidecars it
      // covers quantizer/sidecar tearing — a stale sidecar beside a
      // fresh quantizer fails the digest check loudly. CELLS tearing
      // remains the documented non-atomic save() exposure (a torn
      // tree re-save that landed quantizer + sidecar but crashed
      // before the cells write loads cleanly while old cells keep
      // old-rule assignments), and a PRE-r16 sidecar (no `_qv`,
      // accepted as-is by loadTree) stranded by a torn flat re-save
      // can still pair silently with the wrong quantizer — crash-
      // critical layouts get atomicity from the epoch/generation
      // lifecycle, not from in-place re-saves.
      Generations.list(path).map(_.getPath.getName).filter { n =>
        n == "_CURRENT" || n == "epochs" || n == "codes" ||
          n == "codebook" || n.startsWith("gen-")
      }.foreach(n => Generations.delete(s"$path/$n"))
    }
    spark.createDataFrame(centroids)
      .toDF("__cell", "__centroid")
      .write.mode("overwrite").parquet(s"$path/quantizer")
    // tree-mode sidecar (see [[IvfIndex.build]]): the super level of
    // the two-level quantizer — (gid, super centroid, leaf id range).
    // Its PRESENCE is the saved index's assignment-rule flag: every
    // append path resolves the assigner from it ([[loadAssigner]]),
    // so a row assigns to the same cell whether it arrived at build
    // time or as an append, in either mode. Leaf centroids are the
    // `quantizer` table itself, in leaf-id order.
    tree.foreach { tq =>
      IvfIndex.writeTreeSidecar(spark, path, tq, centroids)
    }
    Generations.writePartitioned(corpus, "__cell", "overwrite",
      s"$path/cells")
    // a FLAT re-save over a tree-built index removes the stale sidecar
    // only now, after the new cells are fully written: a crash before
    // this point leaves the stale sidecar whose `_qv` digest no longer
    // matches the new quantizer — a LOUD load failure, not a silent
    // rule flip (ADVICE r15)
    if (tree.isEmpty) Generations.delete(s"$path/quantizer_tree")
  }
}

object IvfIndex {

  /** A search request's query vectors as the driver holds them: the
    * non-null ids (widened to long; `idType` is the type results carry
    * them back in) and their vectors (catalyst arrays of `vecType`,
    * null for a null vector). */
  private[engine] final case class QueryVectors(ids: Array[Long],
      vecs: Array[org.apache.spark.sql.catalyst.util.ArrayData],
      idType: DataType, vecType: DataType) {
    def vecFloat: Boolean = vecType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
  }

  private[engine] object QueryVectors {

    /** (id, vector) internal rows at ordinals `idAt` / `vecAt`. */
    def of(rows: Seq[org.apache.spark.sql.catalyst.InternalRow], idAt: Int,
        vecAt: Int, idType: DataType, vecType: DataType): QueryVectors = {
      require(idType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }, s"query ids must be integral, got ${idType.simpleString}")
      val kept = rows.filterNot(_.isNullAt(idAt))
      QueryVectors(
        kept.map(_.get(idAt, idType).asInstanceOf[Number].longValue).toArray,
        kept.map(r => if (r.isNullAt(vecAt)) null else r.getArray(vecAt))
          .toArray, idType, vecType)
    }

    /** ONE collect of `queries`' (query_id, __q). */
    def collect(queries: DataFrame): QueryVectors = {
      val q = queries.select(col("query_id"), col("__q"))
      of(Extensions.collectInternal(q).toSeq, 0, 1,
        q.schema(0).dataType, q.schema(1).dataType)
    }
  }

  /** The probed cells of a request ([[Prober.resolve]]): per query, its
    * norm `nq` (sqrt(dot(__q, __q)), null where DotF32 is), the query
    * slots per cell ([[graft.functions.QueryBatch.cellSlots]]), and the
    * sorted distinct probed cells — the partition filter. */
  private[engine] final case class Probes(nq: Array[java.lang.Double],
      cellSlots: Array[Array[Int]], cells: Seq[Int])

  /** The probe rule shared by [[IvfIndex]] and [[IvfPqIndex]], as one
    * projection per nprobe ([[Extensions.driverProjection]]: analyzed
    * once per handle, evaluated on the driver per query):
    *
    *   - flat: (`dist(__q, centroid)`, cell) structs sorted ascending,
    *     first nprobe — Spark's double ordering, ties to the lower
    *     cell, the order of the former per-query rank window;
    *   - tree: the query's own tree-assigned cell first, then the
    *     two-level probes (ADVICE r15) — a row's tree-assigned cell
    *     need not be its flat-nearest leaf, so flat ranking could skip
    *     the cell holding an exact duplicate at small nprobe; probe
    *     sets under pruning are a recall heuristic (the knnJoin
    *     contract), self cell always first; `nprobe >= nLeaves` probes
    *     every leaf.
    *
    * Null cells are dropped; a query probes each of its cells once. */
  private[engine] final class Prober(spark: SparkSession,
      centroids: Seq[(Int, Array[Float])],
      tree: Option[Extensions.TreeQuantizer],
      dist: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column) {

    private val rules = new java.util.concurrent.ConcurrentHashMap[
      (Int, DataType), Extensions.DriverProjection]()

    private def probeCells(nprobe: Int): org.apache.spark.sql.Column =
      tree match {
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

    def resolve(qv: QueryVectors, nprobe: Int): Probes = {
      val rule = rules.computeIfAbsent((nprobe, qv.vecType), _ =>
        Extensions.driverProjection(spark,
          StructType(Seq(StructField("__q", qv.vecType))), probeCells(nprobe),
          sqrt(Extensions.dot(col("__q"), col("__q")))))
      val evaluated = qv.vecs.toSeq.map(v => rule(v))
      val cells = evaluated.map { r =>
        if (r.isNullAt(0)) Nil
        else {
          val a = r.getArray(0)
          (0 until a.numElements()).filterNot(a.isNullAt).map(a.getInt)
        }
      }
      val all = cells.flatten.distinct.sorted
      val nCells = (all ++ centroids.map(_._1)).max + 1
      Probes(
        evaluated.map(r =>
          if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
          .toArray,
        graft.functions.QueryBatch.slotsByCell(cells, nCells), all)
    }
  }

  /** Fit the coarse quantizer and assign every corpus row to its cell.
    * Below [[Extensions.treeCellThreshold]] cells: a 1-in-4 hash-sample
    * MLlib fit (falling back to the full corpus when the sample is
    * smaller than 4× the centroid count — see [[fitFor]]) and the flat
    * literal-centroid assignment. At and above it — the
    * doctrine regime where nCells grows with the corpus — the
    * two-level [[Extensions.TreeQuantizer]] (VERDICT r14 #4): a
    * bounded-sample local fit (flat cost at any corpus size, replacing
    * an MLlib fit whose per-iteration cost was ∝ n·nCells) and the
    * codegen'd tree assignment (n·2√nCells instead of n·nCells). The
    * tree structure persists as a `quantizer_tree` sidecar on save, so
    * every append resolves the SAME rule ([[loadAssigner]]); cells are
    * the tree's leaves and the leaf table IS the `quantizer` table,
    * so query probes, file pruning, PQ sidecars and the radii
    * arithmetic are mode-blind.
    */
  def build(emb: DataFrame, embCol: String, idCol: String,
      nCells: Int = 16): IvfIndex = {
    require(nCells > 0, "nCells must be positive")
    val clash = emb.columns.toSet
      .intersect(Set("__vec", "__cell", "__q", "__e"))
    require(clash.isEmpty,
      s"input uses reserved internal column names: ${clash.mkString(", ")}")
    val (cents, assign, treeOpt) = fitFor(emb, embCol, idCol, nCells)
    // assignment by the shared literal projection (nearestCellExpr /
    // the tree rule — r13/r15): the SAME rule appendToSaved/appendEpoch
    // grow the layout with, so a row assigns to the same cell whether
    // it arrived at build time or as an append (MLlib's transform used
    // a norm-shortcut double-centroid distance that could disagree on
    // knife-edge rows)
    val corpus = emb.select(col(idCol), col(embCol),
      assign(col(embCol)).as("__cell"))
    new IvfIndex(cents, corpus, idCol, embCol, treeOpt)
  }

  /** [[build]] with a DRIVER-SIDE bounded-sample coarse fit (opt r19 —
    * the pqCodebookOf doctrine): one smallest-xxhash64 TakeOrdered
    * collect + [[Extensions.localKMeans]] replaces the distributed
    * MLlib fit's ~14 scheduler-bound jobs. For [[SemanticStore]] ONLY:
    * its pair set is blocking-independent (recall exactly 1 under ANY
    * quantizer — the law SemanticStoreSpec pins), so swapping the fit
    * moves cost, never results. [[build]] itself keeps the MLlib fit
    * untouched because the ANN/hybrid/PQ entries' OUTPUTS (pruned
    * probes) depend on the exact centroids — changing those would
    * change what their declared queries compute. Same save/load/append
    * contract: flat centroids in cell order, assignment by the shared
    * literal rule, sidecar-free (below the tree threshold only). */
  private[engine] def buildLocalFit(emb: DataFrame, embCol: String,
      idCol: String, nCells: Int, seed: Long = 42L,
      sampleCap: Int = 16384): IvfIndex = {
    require(nCells > 0 && nCells < Extensions.treeCellThreshold,
      "buildLocalFit is the flat-mode path; tree mode already fits locally")
    val clash = emb.columns.toSet
      .intersect(Set("__vec", "__cell", "__q", "__e", "__h"))
    require(clash.isEmpty,
      s"input uses reserved internal column names: ${clash.mkString(", ")}")
    val sample = Extensions.quantizerSample(emb, embCol, idCol, sampleCap)
    require(sample.nonEmpty, "cannot fit a quantizer on an empty corpus")
    val k = math.min(nCells, sample.length)
    val cents = Extensions.localKMeans(sample, k, seed, iters = 8)
      .zipWithIndex.map { case (c, i) => (i, c) }
    val corpus = emb.select(col(idCol), col(embCol),
      Extensions.nearestCellExpr(col(embCol),
        cents.map(_._2.toSeq)).as("__cell"))
    new IvfIndex(cents, corpus, idCol, embCol, None)
  }

  /** The build-time centroids, for callers that just built+saved and
    * would otherwise read the identical floats straight back
    * ([[SemanticStore.ingest]]'s first snapshot — parquet float
    * round-trips are exact). */
  private[engine] def centroidPairsOf(idx: IvfIndex)
      : Seq[(Int, Array[Float])] = idx.centroidPairs

  /** The coarse-quantizer fit of the IVF family: [[build]], the REFIT
    * compaction ([[compactEpochs]] with `refit = true`), and the ad-hoc
    * [[Extensions.annIvf]], [[Extensions.ivfPqTopK]] and
    * [[Extensions.knnJoin]]. Below [[Extensions.treeCellThreshold]] a
    * hash-sampled MLlib KMeans and the flat literal-centroid rule; at
    * and above it the bounded-sample two-level
    * [[Extensions.TreeQuantizer]] and the codegen'd tree rule. Returns
    * (centroids in cell order, the assignment Column rule, the tree
    * when fitted). The flat path's lineage-shortening persist is
    * released once the fit completes — the returned rule is a pure
    * literal projection that never reads it. A one-row corpus is its
    * own single centroid (MLlib rejects k = 1); an empty one fails a
    * `require`. */
  private[engine] def fitFor(emb: DataFrame, embCol: String, idCol: String,
      nCells: Int, seed: Long = 42L): (Seq[(Int, Array[Float])],
      org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      Option[Extensions.TreeQuantizer]) = {
    if (nCells >= Extensions.treeCellThreshold) {
      val tq = Extensions.fitTreeQuantizer(
        emb.select(col(idCol), col(embCol)), embCol, idCol, nCells, seed)
      val cents = tq.leafArrays.zipWithIndex.map { case (c, i) => (i, c) }
      return (cents, e => graft.functions.TreeCells.nearestLeaf(e,
        tq.supFlat, tq.leafFlat, tq.groupStart, tq.dim), Some(tq))
    }
    val vecs = emb.select(col(idCol), col(embCol))
      .withColumn("__vec", array_to_vector(col(embCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sample = vecs.filter(pmod(xxhash64(col(idCol)), lit(4)) === 0)
      // ONE action for both counts (opt r19): the old sample.count() +
      // fallback vecs.count() paid two jobs over the same cached frame
      // whenever the fallback fired — a conditional aggregate returns
      // both in one pass, fit inputs bit-identical
      val cnts = vecs.agg(count(lit(1)),
        count(when(pmod(xxhash64(col(idCol)), lit(4)) === 0, 1))).head()
      val (fullN, sampleN) = (cnts.getLong(0), cnts.getLong(1))
      require(fullN > 0, "cannot fit a coarse quantizer on an empty corpus")
      val (fitSample, fitN) =
        if (sampleN >= nCells.toLong * 4) (sample, sampleN)
        else (vecs, fullN)
      // k capped at the fit-set size: MLlib's blockified KMeans throws
      // (out-of-bounds in the center aggregator) when k exceeds the
      // point count — a first snapshot smaller than nCells must build
      // a smaller (still contiguous 0..k-1) quantizer, not crash. At
      // every realistic corpus fitN >= nCells and the fit is
      // bit-unchanged.
      val cents =
        if (fitN == 1)
          Seq(0 -> Extensions.quantizerSample(vecs, embCol, idCol, 1).head)
        else new KMeans()
          .setFeaturesCol("__vec").setPredictionCol("__cell")
          .setK(math.min(nCells.toLong, fitN).toInt).setSeed(seed)
          .setMaxIter(5).fit(fitSample)
          .clusterCenters.zipWithIndex.map { case (c, i) =>
            (i, c.toArray.map(_.toFloat))
          }.toSeq
      (cents, e => Extensions.nearestCellExpr(e, cents.map(_._2.toSeq)),
        None)
    } finally vecs.unpersist()
  }

  /** The doctrine cell-count rule, nCells ∝ corpus (see
    * [[graft.functions.TreeCells]]: proportional cells keep each cell
    * executor-sized at any corpus scale, and past
    * [[Extensions.treeCellThreshold]] the two-level tree keeps the
    * per-row assignment cost √nCells). `rowsPerCell` is the knob; the
    * default matches the probe fixtures' operating point (the
    * clustered-drift fixture carries 16 clusters per 2 000-row
    * replica — 125 rows each) so a store born at the toy-sf budget
    * grows on the fixture's own curve. Production tunes it to
    * executor-sized cells; the library-level invariant is only the
    * SHAPE (budget ∝ n). */
  private[graft] val defaultRowsPerCell: Long = 128L

  /** Cells the doctrine budget allots `n` rows at `rowsPerCell`. */
  private[graft] def cellBudget(n: Long, rowsPerCell: Long): Int = {
    require(rowsPerCell > 0, "rowsPerCell must be positive")
    math.min((n + rowsPerCell - 1) / rowsPerCell,
      Int.MaxValue.toLong).toInt.max(1)
  }

  /** md5 over the quantizer's centroid floats in cell order — the
    * content version that ties a `quantizer_tree` sidecar (and the
    * [[SemanticStore]] radii epochs) to the exact quantizer they were
    * written under. A refit always moves centroid floats, so the leaf
    * digest alone versions the assignment rule. */
  private[graft] def quantizerDigest(
      cents: Seq[(Int, Array[Float])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    for ((_, c) <- cents.sortBy(_._1); x <- c) {
      buf.clear(); buf.putFloat(x)
      md.update(buf.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the tree sidecar (+ its `_qv` quantizer-digest marker) into
    * `root` — shared by [[IvfIndex.save]] and the refit compaction's
    * generation staging. */
  private def writeTreeSidecar(spark: SparkSession, root: String,
      tq: Extensions.TreeQuantizer,
      cents: Seq[(Int, Array[Float])]): Unit = {
    val rows = (0 until tq.nGroups).map { g =>
      (g, tq.supFlat.slice(g * tq.dim, (g + 1) * tq.dim).toSeq,
        tq.groupStart(g), tq.groupStart(g + 1))
    }
    spark.createDataFrame(rows)
      .toDF("gid", "centroid", "leaf_start", "leaf_end")
      .coalesce(1) // ~√nCells rows
      .write.mode("overwrite").parquet(s"$root/quantizer_tree")
    Generations.writeText(s"$root/quantizer_tree/_qv", quantizerDigest(cents))
  }

  /** The cell-assignment rule of a SAVED index, resolved from disk:
    * the `quantizer_tree` sidecar's presence selects the two-level
    * tree rule (rebuilt from the sidecar's super level + the
    * `quantizer` leaf table), its absence the flat literal-centroid
    * rule. Every growth path (appendToSaved, appendEpoch,
    * appendPqToSaved) and [[SemanticStore.ingest]]'s batch-side
    * assignment MUST come through here — a row's cell may never
    * depend on which code path ingested it, or radii-based pruning
    * loses its recall-1 soundness and planted-duplicate lookups miss.
    */
  private[engine] def loadAssigner(spark: SparkSession, path: String,
      cents: Seq[(Int, Array[Float])])
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    loadTree(spark, path, cents) match {
      case None =>
        emb => Extensions.nearestCellExpr(emb, cents.map(_._2.toSeq))
      case Some(tq) =>
        emb => graft.functions.TreeCells.nearestLeaf(emb, tq.supFlat,
          tq.leafFlat, tq.groupStart, tq.dim)
    }

  /** Rebuild the [[Extensions.TreeQuantizer]] of a saved tree-mode
    * index from its `quantizer_tree` sidecar (super level) + the
    * `quantizer` leaf table; None for a flat index. [[load]] threads
    * this back into the instance so a load→save round trip REWRITES
    * the sidecar — without that, save()'s doomed-list delete would
    * silently flip the layout's assignment rule to flat while the
    * cells keep their tree assignments (review finding). The sidecar
    * resolves from [[quantizerRoot]] (a refit compaction stages it
    * inside the generation, beside the refit quantizer), and its `_qv`
    * digest must match the live quantizer: a crash inside a re-save
    * can strand a stale sidecar beside a fresh quantizer, and without
    * the digest check the torn pair would serve silently-wrong tree
    * assignments (ADVICE r15). Sidecars from before the marker existed
    * (pre-r16 saves) carry no `_qv` and are accepted as-is — their
    * saves never interleaved quantizer and sidecar writes from
    * different fits. */
  private def loadTree(spark: SparkSession, path: String,
      cents: Seq[(Int, Array[Float])]): Option[Extensions.TreeQuantizer] = {
    val sidecar = s"${quantizerRoot(spark, path)}/quantizer_tree"
    if (!Generations.exists(sidecar)) None
    else {
      Generations.readText(s"$sidecar/_qv").foreach { qv =>
        require(qv == quantizerDigest(cents),
          s"quantizer_tree sidecar at $sidecar was written under a " +
            "different quantizer (a torn re-save) — rebuild and re-save " +
            "the index")
      }
      val rows = Generations.scan(Seq(sidecar))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray,
          r.getInt(2), r.getInt(3)))
        .sortBy(_._1)
      val dim = cents.head._2.length
      require(rows.nonEmpty && rows.head._3 == 0 &&
        rows.last._4 == cents.size &&
        rows.sliding(2).forall(w =>
          w.length < 2 || w(0)._4 == w(1)._3) &&
        rows.forall(_._2.length == dim),
        s"corrupt quantizer_tree sidecar at $sidecar")
      val supFlat = new Array[Float](rows.length * dim)
      rows.foreach { case (g, c, _, _) =>
        System.arraycopy(c, 0, supFlat, g * dim, dim) }
      val leafFlat = new Array[Float](cents.size * dim)
      cents.sortBy(_._1).foreach { case (l, c) =>
        System.arraycopy(c, 0, leafFlat, l * dim, dim) }
      val groupStart = (rows.map(_._3) :+ cents.size).toArray
      Some(Extensions.TreeQuantizer(supFlat, leafFlat, groupStart, dim))
    }
  }

  /** Append new vectors to a SAVED index under its frozen quantizer:
    * each vector is assigned to its nearest existing centroid (squared
    * euclidean, ties to the lower cell id — KMeans' own rule) and the
    * rows land as new files inside the matching cell partitions. The
    * standard IVF growth pattern — posting lists grow daily, the
    * quantizer retrains on a slower cadence (rebuild when drift makes
    * cells lopsided; [[Analytics.skewReport]] on `__cell` is the
    * check). Queries on the saved layout keep pruning exactly as
    * before; new ids must be disjoint from stored ones (dedup
    * upstream).
    */
  def appendToSaved(spark: SparkSession, path: String, emb: DataFrame,
      embCol: String, idCol: String): Unit = {
    val cents = readQuantizer(spark, path)
    // assignment as a literal-codebook projection resolved from the
    // saved layout ([[loadAssigner]] — flat nearestCellExpr or the
    // tree rule, whichever built the index): the centroids enter the
    // plan as LITERALS, so assignment is one codegen'd pass — no
    // centroid cross join (which would push |centroids| embedding
    // copies per row through a shuffle for the old per-vector rank
    // window).
    val assigned = emb.select(col(idCol), col(embCol),
      loadAssigner(spark, path, cents)(col(embCol)).as("__cell"))
    Generations.writePartitioned(assigned, "__cell", "append",
      s"${baseRoot(path)}/cells")
  }

  /** Open a saved index. Queries against it prune the cell partitions
    * of the saved layout at the file level.
    */
  def load(spark: SparkSession, path: String, idCol: String,
      embCol: String): IvfIndex = {
    val cents = readQuantizer(spark, path)
    // base cells ∪ claimed ingest epochs (appendEpoch) — each branch
    // stays cell-partitioned, so probes still file-prune everywhere
    val corpus = cellsWithEpochs(spark, path)
    new IvfIndex(cents, corpus, idCol, embCol,
      loadTree(spark, path, cents))
  }

  /** Write a PQ-codes sidecar beside a SAVED index — the persisted
    * form of [[Extensions.ivfPqTopK]] (FAISS IVFPQ's on-disk shape):
    * `$path/codebook` (m per-subspace codebooks, k rows each) and
    * `$path/codes` (per row: id + m small ints, parquet-partitioned BY
    * CELL like the full vectors). A probed query then reads m ints per
    * candidate row from file-pruned code partitions instead of 4·dim
    * bytes — the scan-bytes knob on top of save()'s which-files knob.
    * The full-vector cells stay as the exact re-rank source (and for
    * callers who skip re-rank, the codes sidecar alone serves).
    * Defaults track [[Extensions.ivfPqTopK]]'s r11 operating point
    * (kCode 256, query refineFactor 8 — the recall-sweep knee recorded
    * in BASELINE.md); the codebook sidecar stays tiny (m·kCode rows).
    */
  def addPqCodes(spark: SparkSession, path: String, idCol: String,
      embCol: String, m: Int = 4, kCode: Int = 256,
      seed: Long = 42L): Unit = {
    // encode the WHOLE visible corpus — base cells PLUS every claimed
    // ingest epoch (ADVICE r11): an epoch appended before the sidecar
    // existed would otherwise never get codes and silently vanish from
    // the PQ shortlist, and a re-fit would leave epoch codes dirs
    // holding codes from the OLD codebook. ONE claimed-epoch snapshot
    // feeds the fit, the encode, the version, and the sweep (the
    // compactEpochs single-snapshot doctrine). After this call the
    // base codes cover every claimed row under the NEW codebook; the
    // folded epochs' own codes dirs are DELETED (their rows live in
    // the base now — left in place they'd double-count), and the
    // `_pqv` marker salts the codebook digest with the folded epoch
    // set, so even a crash before that sweep cannot double-count: a
    // re-fit that reproduces the identical codebook still mints a NEW
    // version once it folds any epoch, and the stale dirs fail the
    // [[codesWithEpochs]] stamp check.
    val snap = Snapshot.of(spark, path)
    val epochs = snap.epochs
    val corpus = cellsOf(spark, path, snap)
    val dim = corpus.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"embedding dim $dim must divide into m=$m " +
      "equal subvectors")
    val codebook = Extensions.pqCodebookOf(corpus, embCol, idCol,
      dim, m, kCode, seed)
    val cbRows = for {
      (cb, j) <- codebook.zipWithIndex
      (cent, c) <- cb.zipWithIndex
    } yield (j, c, cent)
    val version = pqVersionOf(codebook,
      epochs.map(e => new org.apache.hadoop.fs.Path(e).getName))
    spark.createDataFrame(cbRows).toDF("j", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    Generations.writeText(s"$path/codebook/_pqv", version)
    Generations.writePartitioned(corpus.select(col(idCol),
        graft.functions.PqOps.pqEncode(col(embCol), codebook).as("codes"),
        col("__cell")),
      "__cell", "overwrite", s"${baseRoot(path)}/codes")
    // the base codes dir carries its OWN version stamp, written only
    // AFTER the full re-encode lands (the parquet overwrite wiped any
    // previous stamp with the old codes). The codebook commits first,
    // so a crash anywhere inside the long re-encode window leaves the
    // NEW codebook beside base codes that are either partial or still
    // encoded under the OLD one — exactly the silently-wrong-ADC
    // pairing the epoch `_pqv` gate prevents, which until this stamp
    // existed had no detection on the base dir (ADVICE r12). With it,
    // [[codesOf]] fails loudly on the mismatch and the heal is
    // re-running addPqCodes.
    Generations.writeText(s"${baseRoot(path)}/codes/_pqv", version)
    // the folded epochs' codes now live in the base — their own dirs
    // are superseded (version skew already excludes them; the sweep
    // reclaims the space). Cells dirs stay: the vectors themselves
    // are still epoch-resident until compactEpochs folds them.
    epochs.foreach(e => Generations.delete(s"$e/codes"))
  }

  /** Content fingerprint of a PQ codebook + the epoch names its fit
    * FOLDED into the base codes — epoch codes dirs are stamped with
    * the version they were encoded under, and [[codesWithEpochs]]
    * unions only epochs whose stamp matches the CURRENT codebook's:
    * after a re-fit, stale epoch codes would be ADC-scored against
    * the wrong codewords (silently wrong distances, ADVICE r11) —
    * version-skew excludes them instead, and the re-fit's full
    * re-encode (see [[addPqCodes]]) has already folded those rows
    * into the base codes. The folded-epoch salt closes the review
    * finding that a re-fit REPRODUCING the identical codebook (same
    * capped sample) would keep the old version and double-count any
    * folded epoch dir a crash left behind. */
  private[graft] def pqVersionOf(codebook: Seq[Seq[Seq[Float]]],
      foldedEpochNames: Seq[String] = Nil): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(4)
    for (sub <- codebook; cent <- sub; x <- cent) {
      buf.clear(); buf.putFloat(x)
      md.update(buf.array())
    }
    foldedEpochNames.sorted.foreach(n =>
      md.update(s"|$n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Append new vectors to a saved index's PQ sidecar under the
    * FROZEN quantizer and codebooks — the codes-side companion of
    * [[appendToSaved]] (call both to grow the layout: cells for the
    * re-rank source, codes for the scan). Cell assignment and PQ
    * encoding are pure literal-codebook projections, so the append is
    * one codegen'd pass over the new rows; new ids must be disjoint
    * from stored ones (dedup upstream). Retrain cadence: when cells go
    * lopsided or codebook reconstruction error drifts, rebuild —
    * frozen-dictionary growth between rebuilds is the standard IVFPQ
    * operating mode.
    */
  def appendPqToSaved(spark: SparkSession, path: String, emb: DataFrame,
      embCol: String, idCol: String): Unit = {
    val cents = readQuantizer(spark, path)
    val codebook = readCodebook(path)
    Generations.writePartitioned(emb.select(col(idCol),
        graft.functions.PqOps.pqEncode(col(embCol), codebook).as("codes"),
        loadAssigner(spark, path, cents)(col(embCol)).as("__cell")),
      "__cell", "append", s"${baseRoot(path)}/codes")
  }

  // ── streaming epoch appends (exactly-once segment growth) ────────────

  /** Root directory holding the live base `cells/` (and `codes/`)
    * dirs: the legacy layout keeps them directly under `path`; once
    * [[compactEpochs]] has published a generation, the `_CURRENT`
    * pointer names the live root — resolution is one pointer read
    * (the [[Generations]] commit protocol, as
    * [[TextIndex.compactSegments]]). */
  private[graft] def baseRoot(path: String): String =
    Generations.currentName(path).map(g => s"$path/$g").getOrElse(path)

  /** Root holding the LIVE quantizer (+ its optional `quantizer_tree`
    * sidecar): a REFIT compaction stages the new quantizer inside its
    * generation dir, so quantizer and re-assigned cells flip together
    * with the single `_CURRENT` commit — there is no window where new
    * cells are read under the old rule or vice versa. Indexes that
    * never refit (and the pre-generation layout) keep the build-time
    * `$path/quantizer`. */
  private[graft] def quantizerRoot(spark: SparkSession,
      path: String): String = {
    val g = baseRoot(path)
    if (g == path) path
    else if (Generations.exists(s"$g/quantizer")) g
    else path
  }

  /** The live quantizer's centroids in cell order (resolved via
    * [[quantizerRoot]]) — the one read every growth/query path shares. */
  private[graft] def readQuantizer(spark: SparkSession,
      path: String): Seq[(Int, Array[Float])] = {
    val cents = Generations.scan(Seq(s"${quantizerRoot(spark, path)}/quantizer"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    require(cents.zipWithIndex.forall { case ((id, _), i) => id == i },
      "saved quantizer cell ids must be contiguous 0..n-1")
    cents
  }

  /** The PQ sidecar's m codebooks, each its codewords in code order. */
  private def readCodebook(path: String): Seq[Seq[Seq[Float]]] =
    Generations.scan(Seq(s"$path/codebook"))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getSeq[Float](2).toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** Epoch names already folded into the CURRENT base generation by
    * [[compactEpochs]] — excluded from every union even while their
    * dirs still exist (the window between the publish flip and the
    * cleanup sweep, or after a crash inside it). `private[engine]`:
    * [[SemanticStore]]'s stored-side read must apply the same
    * exclusion — after [[SemanticStore.compact]]'s step 1 publishes
    * the inner index's new base, a crash before the epoch-dir sweep
    * leaves folded dirs on disk that the store's committed names still
    * reference; reading them would score every stored vector twice
    * (review finding). */
  private[engine] def foldedEpochs(spark: SparkSession,
      path: String): Set[String] =
    foldedEpochsOrdered(spark, path).toSet

  /** [[foldedEpochs]] in manifest FILE order — fold order, oldest
    * first (compactions append new names at the tail), which is what
    * lets `retainFolded` drop from the head. */
  private def foldedEpochsOrdered(spark: SparkSession,
      path: String): Seq[String] =
    Generations.readLines(s"${baseRoot(path)}/_folded")

  /** Directories of CLAIMED ingest epochs under `path/epochs` — an
    * epoch becomes visible only once its `_claim` marker exists, which
    * [[appendEpoch]] writes LAST, so a half-written epoch (crash
    * mid-batch) is invisible to every load. */
  private def claimedEpochs(spark: SparkSession, path: String): Seq[String] = {
    val root = s"$path/epochs"
    val names = Generations.dirNames(root)
    if (names.isEmpty) Seq.empty
    else names.filterNot(foldedEpochs(spark, path))
      .map(n => s"$root/$n").filter(e => Generations.exists(s"$e/_claim"))
  }

  // ── take-down tombstones (VERDICT r15 #5) ────────────────────────────

  private[engine] def tombstones(path: String) =
    new Generations.DeleteSet(path, "tombstones", "_tombstones")

  /** Commit a take-down TOMBSTONE of ids (the ingest-commit shape:
    * `tombstones/<name>/` parquet staged first, the content-less
    * `_tombstones/<name>` marker LAST; a torn write is invisible, a
    * committed name replays as a no-op). From the commit on, every
    * read path — [[load]] queries, the PQ ADC scan, [[addPqCodes]]'s
    * re-encode — excludes the ids via one anti-join (skipped entirely
    * while no tombstone exists); [[compactEpochs]] drops the rows
    * PHYSICALLY (the staged generation is the filtered union) and
    * retires the applied tombstones. Re-using a tombstoned id in a
    * later append is outside the contract (ids are permanent
    * take-downs; appends require ids disjoint from stored ones). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, name: String, overwrite: Boolean = false): Unit = {
    val tombs = tombstones(path)
    if (tombs.isCommitted(name)) {
      // committed replay: a no-op for user deletes (the commit shape),
      // but the SemanticStore compact mirror must OVERWRITE — a crash
      // after the mirror landed but before the fold committed leaves
      // the same generation name to retry with a possibly-GROWN
      // deleted set, and a no-op here would physically apply only the
      // stale subset while the retry retires every delete epoch
      // (resurrecting the newer ids).
      if (!overwrite) return
      tombs.retire(Seq(name))
    }
    tombs.commit(name, ids.select(col(idCol).as("__tomb_id")).distinct())
  }

  /** Anti-join committed tombstones out of a cells/codes union. The id
    * column is the one non-array column beside `__cell` (cells carry
    * the embedding array, codes the codes array). */
  private def excludeTombstoned(df: DataFrame,
      tombs: Option[DataFrame]): DataFrame = tombs match {
    case None => df
    case Some(t) =>
      val idCol = df.schema.fields
        .filterNot(f => f.name == "__cell" ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        .head.name
      df.join(t.withColumnRenamed("__tomb_id", idCol), Seq(idCol),
        "left_anti")
  }

  /** The corpus = base cells ∪ every claimed epoch's cells, one scan
    * ([[Generations.scan]]) whose `__cell` partitions span every root,
    * so a probed query's cell filter file-prunes base and epochs alike —
    * epoch growth never widens what a query scans beyond its probed
    * cells. An epoch of zero rows (a raw [[appendEpoch]] of an empty
    * frame) holds no data file and adds nothing. */
  private[graft] def cellsWithEpochs(spark: SparkSession,
      path: String): DataFrame =
    cellsOf(spark, path, Snapshot.of(spark, path))

  /** The claimed epochs and the tombstoned ids, resolved ONCE: every
    * union one call builds derives from one snapshot. The multi-step
    * writers (compactEpochs, addPqCodes) also derive the `_folded`
    * manifest from it — re-listing per step would let an epoch claimed
    * mid-operation be folded into the staged data but never recorded as
    * folded (its rows then count twice forever) — and a search's id
    * lookup and scans see the same epochs. */
  private[engine] final case class Snapshot(epochs: Seq[String],
      tombstoned: Option[DataFrame])

  private[engine] object Snapshot {
    def of(spark: SparkSession, path: String): Snapshot =
      Snapshot(claimedEpochs(spark, path), tombstones(path).ids())
  }

  /** [[cellsWithEpochs]] over a resolved [[Snapshot]]. */
  private[engine] def cellsOf(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame =
    excludeTombstoned(Generations.scan(
      (baseRoot(path) +: snap.epochs).map(r => s"$r/cells"), Some("__cell")),
      snap.tombstoned)

  /** PQ-codes twin of [[cellsWithEpochs]], version-gated: an epoch
    * codes dir joins the union ONLY when its `_pqv` stamp matches the
    * current codebook's — codes encoded under a superseded codebook
    * would be ADC-scored against the wrong codewords. Rows behind a
    * skewed or missing stamp are NOT lost: every [[addPqCodes]] run
    * re-encodes the full claimed corpus into the base codes, which is
    * also why epochs written before the sidecar existed (no codes dir
    * at all) contribute nothing here yet still get searched. */
  private[graft] def codesWithEpochs(spark: SparkSession,
      path: String): DataFrame =
    codesOf(spark, path, Snapshot.of(spark, path))

  /** [[codesWithEpochs]] over a resolved [[Snapshot]]. */
  private[engine] def codesOf(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame = {
    val current = Generations.readText(s"$path/codebook/_pqv")
    // the base codes must match the committed codebook: a crash inside
    // addPqCodes' re-encode (codebook committed, base codes partial or
    // still old-codebook) MUST fail loudly here rather than serve
    // silently wrong ADC distances. Epoch dirs below get the softer
    // skip-on-skew treatment because their rows provably re-enter via
    // the re-fit's full base re-encode; the base dir has no such
    // backstop — its rows would just be scored wrong.
    val baseStamp = Generations.readText(s"${baseRoot(path)}/codes/_pqv")
    // distinguish the two mismatch shapes (ADVICE r13): a MISSING base
    // stamp is the legacy pre-stamp sidecar layout (base codes written
    // before the _pqv stamp existed — consistent with the committed
    // codebook, but unprovably so), not evidence of a torn write; a
    // PRESENT-but-different stamp IS the torn addPqCodes signature.
    // Both fail loudly with the same remedy, but the message must not
    // misdiagnose a completed legacy run as a crash.
    require(baseStamp == current,
      (if (baseStamp.isEmpty)
        s"PQ base codes at ${baseRoot(path)}/codes carry no _pqv " +
          "stamp (a legacy pre-stamp sidecar); their consistency with " +
          s"the committed codebook $current cannot be verified — "
      else
        s"PQ base codes at ${baseRoot(path)}/codes are stamped " +
          s"$baseStamp but the committed codebook is $current — an " +
          "addPqCodes run did not complete; ") +
        "re-run addPqCodes to re-encode the corpus under the " +
        "committed codebook")
    // an epoch appended before the sidecar existed has no codes dir (a
    // legacy unstamped codebook matches its missing stamp)
    val stamped = snap.epochs.filter(e =>
      Generations.readText(s"$e/codes/_pqv") == current &&
        Generations.exists(s"$e/codes"))
    excludeTombstoned(Generations.scan(
      (baseRoot(path) +: stamped).map(r => s"$r/codes"), Some("__cell")),
      snap.tombstoned)
  }

  /** Exactly-once epoch append under the FROZEN quantizer (and frozen
    * PQ codebooks when the sidecar exists): the batch lands as one
    * immutable epoch segment — cells (+ codes) first, the `_claim`
    * marker LAST. Returns false and writes nothing when the epoch is
    * already claimed (checkpoint replay after a successful batch);
    * a crash mid-write leaves an UNCLAIMED dir that loads ignore and
    * the retry deletes before rewriting. This is [[appendToSaved]]'s
    * contract made replay-safe — the streaming ingest path
    * (`Streaming.vectorIngestSink`) calls it per micro-batch; new ids
    * must be disjoint from stored ones (dedup upstream).
    * `retainFolded` forwards to the self-policed [[compactEpochs]]'s
    * `_folded` manifest horizon (see its doc for the replay
    * contract); 0 = keep every folded name forever.
    */
  def appendEpoch(spark: SparkSession, path: String, emb: DataFrame,
      embCol: String, idCol: String, epochName: String,
      compactEvery: Int = 0, compactRefit: Boolean = false,
      retainFolded: Int = 0): Boolean = {
    require(epochName.nonEmpty && !epochName.contains("/"),
      "epochName must be a single path segment")
    // an epoch that was claimed and then FOLDED by compactEpochs has
    // its dir swept but its rows in the base — a checkpoint replay of
    // that batch must still be refused or it would re-ingest them
    if (foldedEpochs(spark, path).contains(epochName)) return false
    val epochRoot = s"$path/epochs/$epochName"
    val claim = s"$epochRoot/_claim"
    if (Generations.exists(claim)) return false
    Generations.delete(epochRoot)
    val cents = readQuantizer(spark, path)
    val assigned = emb.select(col(idCol), col(embCol),
        loadAssigner(spark, path, cents)(col(embCol)).as("__cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Generations.writePartitioned(assigned, "__cell", "errorifexists",
      s"$epochRoot/cells")
    if (Generations.exists(s"$path/codebook")) {
      val codebook = readCodebook(path)
      Generations.writePartitioned(assigned.select(col(idCol),
          graft.functions.PqOps.pqEncode(col(embCol), codebook).as("codes"),
          col("__cell")),
        "__cell", "errorifexists", s"$epochRoot/codes")
      // stamp the codebook these codes were encoded under — a later
      // re-fit flips the base _pqv and codesWithEpochs stops scoring
      // this dir (its rows re-enter via the re-fit's full re-encode)
      Generations.readText(s"$path/codebook/_pqv").foreach(v =>
        Generations.writeText(s"$epochRoot/codes/_pqv", v))
    }
    assigned.unpersist()
    Generations.writeText(claim, "")
    // self-policing cadence (the appendSegment compactEvery twin,
    // r18): once this append brings the claimed epoch count to the
    // threshold, fold — an unbounded per-micro-batch append stream
    // otherwise unions one more branch into every query forever.
    // compactRefit=true runs the budget-growing quantizer refit at
    // each fold (the drift posture); false is the cheap layout-only
    // fold. A SemanticStore's inner index never passes the knob (the
    // store polices itself via ingest(compactEvery)); if one did,
    // compactEpochs' _SEMSTORE sentinel fails loudly.
    if (compactEvery > 0 &&
        claimedEpochs(spark, path).length >= compactEvery)
      compactEpochs(spark, path, refit = compactRefit,
        retainFolded = retainFolded)
    true
  }

  /** Fold every claimed ingest epoch into ONE compacted base
    * generation — the segment-merge half of the epoch lifecycle
    * ([[appendEpoch]] grows the layout a segment per micro-batch;
    * unbounded, every query unions ever more branches — this collapses
    * them back to a single clustered cell layout), mirroring
    * [[TextIndex.compactSegments]]'s stage → audit-on-written-files →
    * publish protocol:
    *
    *   1. stage `gen-N/cells` (and `gen-N/codes` when the PQ sidecar
    *      exists) from the CURRENT epoch-union views, clustered per
    *      cell; audit row counts on the files as written;
    *   2. record the folded epoch NAMES in `gen-N/_folded` (carrying
    *      forward any names an earlier generation folded) — after the
    *      flip those epochs stop counting even while their dirs still
    *      exist;
    *   3. `Generations.publish` flips the `_CURRENT` pointer — the
    *      single commit point: readers resolve the new root ∪ the
    *      not-yet-folded epochs, so there is NO window where a row is
    *      visible twice or not at all;
    *   4. sweep the folded epoch dirs and the superseded root —
    *      idempotent cleanup; a crash inside it leaves only unreferenced
    *      garbage that the next compaction's sweep removes.
    *
    * Returns false (and writes nothing) when no claimed epochs exist.
    *
    * Refuses to run on a [[SemanticStore]]'s INNER index (the
    * `_SEMSTORE` sentinel the store writes at creation): the store's
    * committed-union read path resolves epoch dirs by committed NAME,
    * and folding here would also surface a claimed-but-uncommitted
    * torn epoch's vectors as stored — phantom pairs (ADVICE r14).
    * [[SemanticStore.compact]] is the store-aware path: it folds only
    * store-COMMITTED epoch names via [[compactEpochsNamed]].
    *
    * `retainFolded` (r18 review finding F4) bounds the `_folded`
    * replay-refusal manifest: keep at most that many names — always
    * ALL of this fold's own, plus the newest carried tail up to the
    * budget; a carried name beyond the horizon is dropped ONLY once
    * its epoch dir is physically gone (dropping the claim while the
    * dir exists would resurrect it as a live epoch). 0 (default)
    * keeps every name forever. Setting it is a CONTRACT: the caller
    * asserts replays older than the horizon cannot arrive (the
    * streaming sinks pass 4×compactEvery — checkpoint redelivery
    * only reaches batches at/after the last committed offset).
    */
  def compactEpochs(spark: SparkSession, path: String,
      refit: Boolean = false,
      rowsPerCell: Long = defaultRowsPerCell,
      retainFolded: Int = 0): Boolean = {
    require(!Generations.exists(s"$path/_SEMSTORE"),
      s"$path is the inner index of a SemanticStore — its epoch dirs " +
        "are resolved by committed snapshot name, and folding claimed-" +
        "but-uncommitted epochs would surface phantom vectors; run " +
        "SemanticStore.compact on the store instead")
    compactEpochsFiltered(spark, path, None, refit, rowsPerCell,
      retainFolded)
  }

  /** [[compactEpochs]] restricted to an explicit epoch-name subset —
    * the [[SemanticStore.compact]] entry point (folds only epochs the
    * STORE has committed; a torn ingest's claimed-but-uncommitted
    * epoch stays an epoch dir, invisible to the store's read path,
    * until its retry completes). Bypasses the `_SEMSTORE` sentinel by
    * design. */
  private[graft] def compactEpochsNamed(spark: SparkSession,
      path: String, names: Set[String], refit: Boolean = false,
      rowsPerCell: Long = defaultRowsPerCell,
      retainFolded: Int = 0): Boolean =
    compactEpochsFiltered(spark, path, Some(names), refit, rowsPerCell,
      retainFolded)

  /** `refit = true` is the quantizer-REFIT compaction (VERDICT r15
    * #1): compaction already rewrites every live vector into the new
    * generation, so it is the natural — and free, one extra bounded-
    * sample fit — point to retrain the coarse quantizer from the
    * ACCUMULATED corpus and re-assign during the rewrite. A frozen
    * quantizer's cells drift away from the data (the §ingest probe
    * measured survivor fraction ~1.0: radii inflate monotonically and
    * cell pruning certifies nothing), and only a refit restores
    * pruning power. The new quantizer (+ tree sidecar) stages INSIDE
    * the generation dir, so quantizer and re-assigned cells flip
    * together at the `_CURRENT` commit; every generation (refit or
    * not) carries the live quantizer forward, so a later non-refit
    * compaction can never resurrect the stale build-time quantizer at
    * `$path/quantizer`. PQ codes need no re-encode (codebooks are
    * cell-independent); their rows re-cluster under the new cells via
    * an id join with the staged cells.
    *
    * The refit also GROWS the cell budget (VERDICT r16 #1): re-fitting
    * at the frozen birth count forever means a corpus whose cluster
    * structure outruns it keeps its scan dense no matter who fits the
    * quantizer (the clustered-drift probe measured exactly that: 400
    * clusters over 160 cells → survivor stuck at 0.96). The new count
    * is max(current, [[cellBudget]](live rows, `rowsPerCell`)) — the
    * doctrine shape nCells ∝ n, monotone so a delete-heavy corpus
    * never thrashes down — and when growth crosses
    * [[Extensions.treeCellThreshold]] the refit lands in tree mode
    * (sidecar staged inside the generation like any tree save).
    * `rowsPerCell = 0` freezes the current budget (the pre-r17
    * behavior, kept for fixtures that pin a cell count). Correctness
    * is budget-independent: probed queries are exact per cell set,
    * and the SemanticStore pair law is blocking-independent. */
  private def compactEpochsFiltered(spark: SparkSession, path: String,
      only: Option[Set[String]], refit: Boolean,
      rowsPerCell: Long, retainFolded: Int): Boolean = {
    // THE single claimed-epoch snapshot: the staged unions AND the
    // _folded manifest all derive from this one list, so an epoch
    // claimed while this runs is simply not part of this generation —
    // it stays a live (unfolded) epoch and the next compaction takes
    // it. Re-listing per step (the pre-review bug) could fold its
    // ROWS while omitting its NAME: visible twice, forever.
    val epochs = claimedEpochs(spark, path).filter(p => only.forall(
      _.contains(new org.apache.hadoop.fs.Path(p).getName)))
    // tombstones snapshotted ONCE (the claimed-epoch-snapshot rule): a
    // delete committed while this runs is not part of this generation's
    // physical removal and stays a live filter for the next one
    val tombs = tombstones(path).markers
    if (epochs.isEmpty && !refit && tombs.isEmpty) {
      // nothing to fold, but an EARLIER run may have crashed inside
      // its post-publish sweep — and if no further epochs ever arrive,
      // its folded epoch dirs / superseded roots would otherwise be
      // orphaned forever (ADVICE r12). The sweep is driven purely by
      // the published state, so it is safe and idempotent here.
      // (A refit proceeds even with zero epochs: re-clustering the
      // base alone is still the point of the call.)
      sweepPublishedState(spark, path)
      return false
    }
    val prevRoot = baseRoot(path)
    val snap = Snapshot(epochs, tombstones(path).ids())
    val cells = cellsOf(spark, path, snap)
    val liveCells = cells.count()
    val nextGen = Generations.currentName(path) match {
      case Some(g) => g.stripPrefix("gen-").toInt + 1
      case None    => 1
    }
    val stage = s"$path/gen-$nextGen"
    // a crashed earlier attempt at this generation is unpublished by
    // construction — delete and restage
    Generations.delete(stage)
    val liveCents = readQuantizer(spark, path)
    if (refit) {
      // detect the (id, emb) columns from the cells schema — the
      // embedding is the one array column beside __cell
      val arrayCols = cells.schema.fields
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        .map(_.name).filterNot(_ == "__cell")
      require(arrayCols.length == 1,
        s"refit compaction needs exactly one embedding array column, " +
          s"found: ${arrayCols.mkString(", ")}")
      val embCol = arrayCols.head
      val idCol = cells.columns
        .filterNot(c => c == "__cell" || c == embCol).head
      val raw = cells.drop("__cell")
      val targetCells =
        if (rowsPerCell <= 0) liveCents.size
        else math.max(liveCents.size, cellBudget(liveCells, rowsPerCell))
      val (cents, assign, treeOpt) =
        fitFor(raw, embCol, idCol, targetCells)
      Generations.writePartitioned(
        raw.select(col(idCol), col(embCol), assign(col(embCol)).as("__cell")),
        "__cell", "errorifexists", s"$stage/cells")
      spark.createDataFrame(cents).toDF("__cell", "__centroid")
        .write.mode("overwrite").parquet(s"$stage/quantizer")
      treeOpt.foreach(tq => writeTreeSidecar(spark, stage, tq, cents))
    } else {
      Generations.writePartitioned(cells, "__cell", "errorifexists",
        s"$stage/cells")
      // carry the LIVE quantizer (+ sidecar) into the generation: once
      // any refit has staged a quantizer in a generation, a later
      // generation without one would fall back to the stale
      // $path/quantizer (see [[quantizerRoot]])
      spark.createDataFrame(liveCents).toDF("__cell", "__centroid")
        .write.mode("overwrite").parquet(s"$stage/quantizer")
      loadTree(spark, path, liveCents)
        .foreach(tq => writeTreeSidecar(spark, stage, tq, liveCents))
    }
    val stagedCells = Generations.scan(Seq(s"$stage/cells"), Some("__cell"))
    val writtenCells = stagedCells.count()
    require(writtenCells == liveCells,
      s"compaction audit failed: wrote $writtenCells cells, live $liveCells")
    if (Generations.exists(s"$prevRoot/codes")) {
      val codes = codesOf(spark, path, snap)
      val liveCodes = codes.count()
      val stagedCodes =
        if (refit) {
          // re-cluster the codes under the NEW cells: the per-subspace
          // codes themselves are codebook-relative (cell-independent),
          // only the partition column moves
          val idCol = codes.columns
            .filterNot(c => c == "__cell" || c == "codes").head
          codes.drop("__cell").join(
            stagedCells.select(col(idCol), col("__cell")), idCol)
        } else codes
      Generations.writePartitioned(stagedCodes, "__cell", "errorifexists",
        s"$stage/codes")
      val writtenCodes =
        Generations.scan(Seq(s"$stage/codes"), Some("__cell")).count()
      require(writtenCodes == liveCodes,
        s"compaction audit failed: wrote $writtenCodes codes, live $liveCodes")
      Generations.readText(s"$path/codebook/_pqv").foreach(v =>
        Generations.writeText(s"$stage/codes/_pqv", v))
    }
    // _folded in fold order, new names at the tail. retainFolded
    // (r18 review finding F4) drops carried names from the HEAD —
    // never this fold's own names (a replay straddling THIS
    // compaction is the live hazard), and never a name whose epoch
    // dir still exists on disk (a crash before an earlier sweep:
    // dropping the claim would RESURRECT the dir as a live epoch and
    // count its rows twice — the claim must outlive the dir).
    locally {
      val own = epochs.map(e =>
        new org.apache.hadoop.fs.Path(e).getName).sorted
      val carried = foldedEpochsOrdered(spark, path)
        .filterNot(own.contains)
      val kept =
        if (retainFolded <= 0) carried ++ own
        else {
          val budget = math.max(0, retainFolded - own.length)
          val (beyondHorizon, withinHorizon) = carried.splitAt(
            math.max(0, carried.length - budget))
          beyondHorizon.filter(n =>
            Generations.exists(s"$path/epochs/$n")) ++
            withinHorizon ++ own
        }
      Generations.writeText(s"$stage/_folded", kept.mkString("\n"))
    }
    Generations.publish(path, s"gen-$nextGen") // the commit point
    // cleanup, driven by the PUBLISHED state rather than this run's
    // working set, so a crash inside an EARLIER run's sweep heals
    // here instead of orphaning data forever — and the same sweep
    // also runs from the epochs-empty early return above, closing
    // the no-further-epochs orphan window.
    sweepPublishedState(spark, path)
    // the snapshotted tombstones are now physically realized in the
    // published generation — retire them. ONLY on the full fold (only
    // == None, every claimed epoch rewritten): a name-filtered fold
    // leaves epochs outside the subset unrewritten, and sweeping the
    // filter while their rows survive would resurrect deleted ids —
    // the SemanticStore path retires its own delete state instead.
    // Single-writer contract as everywhere in the epoch lifecycle;
    // a crash before this sweep leaves no-op filters (rows already
    // gone) that the next compaction retires.
    // MARKER FIRST, ids dir second (ADVICE r16): a crash between the
    // two then leaves only an orphaned unreferenced dir, never a
    // committed marker whose parquet is gone (which would make every
    // tombstone read throw until hand-repaired).
    if (only.isEmpty) tombstones(path).retire(tombs)
    true
  }

  /** Idempotent garbage sweep over a PUBLISHED index path: deletes
    * every epoch dir the current generation's `_folded` manifest marks
    * folded, every `gen-*` root other than the one `_CURRENT` names,
    * and the legacy pre-generation `cells`/`codes` dirs. Safe at any
    * time — it reads only committed state (`_CURRENT` + the manifest)
    * and never touches live data; a no-op when no generation has been
    * published yet (the legacy dirs ARE the live index then).
    */
  private def sweepPublishedState(spark: SparkSession,
      path: String): Unit = {
    val current = Generations.currentName(path).getOrElse(return)
    val folded = foldedEpochs(spark, path)
    Generations.dirNames(s"$path/epochs").filter(folded)
      .foreach(n => Generations.delete(s"$path/epochs/$n"))
    Generations.dirNames(path).filter(n => n.startsWith("gen-") && n != current)
      .foreach(n => Generations.delete(s"$path/$n"))
    // legacy in-place layout: the pre-generation cells/codes dirs
    Seq(s"$path/cells", s"$path/codes").foreach(Generations.delete)
  }

  /** Open a saved index WITH its PQ sidecar (build → save →
    * [[addPqCodes]] → loadPq). */
  def loadPq(spark: SparkSession, path: String, idCol: String,
      embCol: String): IvfPqIndex = {
    val cents = readQuantizer(spark, path)
    new IvfPqIndex(cents, readCodebook(path), path, spark, idCol, embCol,
      loadTree(spark, path, cents))
  }
}

/** Persisted IVF+PQ query path (see [[IvfIndex.addPqCodes]]): probe →
  * file-pruned ADC scan over the codes sidecar → exact re-rank of the
  * shortlist from the full-vector cells ([[IvfPqIndex.search]], which
  * the transient [[Extensions.ivfPqTopK]] runs too):
  * (query_id, neighbor_id, l2_dist, rank).
  */
final class IvfPqIndex private[engine] (
    centroids: Seq[(Int, Array[Float])],
    codebook: Seq[Seq[Seq[Float]]],
    path: String,
    spark: SparkSession,
    idCol: String,
    embCol: String,
    tree: Option[Extensions.TreeQuantizer] = None) {

  // the probe rule, analyzed once per handle and nprobe
  private lazy val prober =
    new IvfIndex.Prober(spark, centroids, tree, Extensions.pqSqDist)

  def queryByIds(queryIds: Seq[Long], k: Int, nprobe: Int,
      refineFactor: Int = 8): DataFrame = {
    val snap = IvfIndex.Snapshot.of(spark, path)
    val cells = IvfIndex.cellsOf(spark, path, snap)
    search(snap, cells, cells.filter(Extensions.idsIn(cells, idCol, queryIds))
      .select(col(idCol).as("query_id"), col(embCol).as("__q")),
      k, nprobe, refineFactor)
  }

  /** `queries` must carry (query_id, __q: array<float>). */
  def query(queries: DataFrame, k: Int, nprobe: Int,
      refineFactor: Int): DataFrame = {
    val snap = IvfIndex.Snapshot.of(spark, path)
    search(snap, IvfIndex.cellsOf(spark, path, snap), queries, k, nprobe,
      refineFactor)
  }

  /** The search over one resolved layout ([[IvfIndex.Snapshot]]): the
    * query lookup, the cells and the codes see the same epochs and
    * tombstones. */
  private def search(snap: IvfIndex.Snapshot, cells: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int,
      refineFactor: Int): DataFrame =
    IvfPqIndex.search(cells, IvfIndex.codesOf(spark, path, snap), idCol,
      embCol, prober, codebook, IvfIndex.QueryVectors.collect(queries), k,
      nprobe, refineFactor)
}

object IvfPqIndex {

  /** The IVF+PQ query over a cell-assigned corpus: `cells` carries
    * (idCol, embCol, __cell), `codes` (idCol, codes, __cell) encoded
    * under `codebook`. Each query probes its `nprobe` cells
    * ([[IvfIndex.Prober]], ranked by squared L2 on a flat quantizer),
    * ADC-scores only the codes inside them — one
    * [[graft.functions.QueryBatch.PqAdc]] call per row, against the
    * queries probing the row's cell, from per-query tables built on the
    * driver (the sums [[graft.functions.PqOps.adc]] forms, so the same
    * bits) — keeps the best `k·refineFactor` in a bounded heap, and
    * re-ranks that shortlist by exact squared L2 on the full vectors,
    * the query vectors bound by reference under their ids. The probed
    * cell ids filter both scans as literals, so a saved layout prunes
    * files on each. */
  private[engine] def search(cells: DataFrame, codes: DataFrame,
      idCol: String, embCol: String, prober: IvfIndex.Prober,
      codebook: Seq[Seq[Seq[Float]]], qv: IvfIndex.QueryVectors, k: Int,
      nprobe: Int, refineFactor: Int): DataFrame = {
    require(k > 0 && nprobe > 0 && refineFactor > 0,
      "k, nprobe and refineFactor must be positive")
    val probes = prober.resolve(qv, nprobe)
    val (flat, m, kk, sub) = graft.functions.PqOps.flatten(codebook)
    // one ADC table per query; a query with a null element or the wrong
    // length gets none (its per-pair ADC was null)
    val tables = qv.vecs.map { v =>
      val (x, hasNull) =
        graft.functions.QueryBatch.decodeVector(v, qv.vecFloat)
      if (x == null || hasNull || x.length != m * sub) null
      else graft.functions.PqOps.adcTable(x, flat, m, kk, sub)
    }
    val batch = new graft.functions.QueryBatch.PqAdc(qv.ids, tables, m, kk,
      probes.cellSlots)
    val shortlist = codes
      .filter(Extensions.partitionIn("__cell", probes.cells))
      .select(col(idCol).as("neighbor_id"),
        explode(graft.functions.QueryBatch.scoreProbed(col("codes"),
          col(idCol).cast("long"), col("__cell"), batch)).as("__p"))
      .select(col("__p.query_id").cast(qv.idType).as("query_id"),
        col("neighbor_id"), round(col("__p.adc"), 6).as("adc_dist"))
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "adc_dist", k * refineFactor, smallestFirst = true))
    // every copy of a query id re-ranks against its own vector, as the
    // join on query_id did
    val vectors = graft.functions.RequestTable(
      qv.ids.toSeq.zip(qv.vecs.toSeq), LongType, qv.vecType)
    cells.filter(Extensions.partitionIn("__cell", probes.cells))
      .select(col(idCol).as("neighbor_id"), col(embCol).as("__e"))
      .join(shortlist.select(col("query_id"), col("neighbor_id")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("__e"),
        explode(graft.functions.RequestTable.lookup(
          col("query_id").cast("long"), vectors)).as("__q"))
      .select(col("query_id"), col("neighbor_id"),
        round(Extensions.pqSqDist(col("__e"), col("__q")), 6)
          .as("l2_dist"))
      .transform(Extensions.topKBy(_, "query_id", "neighbor_id",
        "l2_dist", k, smallestFirst = true))
  }
}

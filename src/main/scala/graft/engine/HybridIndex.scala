package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Hybrid retrieval over PERSISTED indexes — the production 100 TB
  * search shape: the BM25 branch queries a [[SegmentedTextIndex]]
  * (term-hash bucket partitions), the dense branch queries an
  * [[IvfIndex]] (cell partitions), and the two ≤ |Q|·kBranch-row rank
  * tables fuse with reciprocal-rank fusion — the same tail as the
  * in-memory [[Extensions.rrfFusion]], shared code, shared laws.
  *
  * Request resolution (the serving hot path): a search runs ONE
  * request collect — the query rows' ids, tokens and vectors — and
  * derives every per-request value from it on the driver, with the
  * Spark expressions a plan would run, analyzed once per index handle
  * ([[Extensions.driverProjection]]): term buckets, probe cells, query
  * norms. The search plan binds those values BY REFERENCE — a term →
  * query-ids table on the lexical branch ([[graft.functions
  * .RequestTable]]), a cell → query-slots batch on the dense one
  * ([[graft.functions.QueryBatch]]) — never as a local relation, whose
  * broadcast runs a job per search, and never as literals, which would
  * compile fresh classes per request. The only request-derived literals
  * are the partition-pruning sets (probed cells, term buckets), because
  * only a literal partition filter prunes files, and they never reach
  * generated code ([[Extensions.partitionIn]]). Two requests on one
  * layout compile identical code (HybridIndexSpec pins it) and a
  * steady-state search compiles nothing.
  *
  * Each branch is keyed by query from its scan onward, so the plan has
  * one shuffle per branch: the lexical branch repartitions its scored
  * postings by query (df, the per-document sum and the top-k then run
  * in place), the dense branch shuffles once for its top-k, and the
  * union and the fusion need no further exchange.
  *
  * Both branches scan only PRUNED partitions of their saved layouts;
  * the fusion layer adds no corpus-sized work at all. Under exhaustive
  * parameters (nprobe = the index's cell count) the dense branch is
  * exact, so the composed result equals the in-memory
  * [[Extensions.rrfFusion]] bit-for-bit — the parity law
  * HybridIndexSpec pins; production runs prune (nprobe < nCells) and
  * inherit the IVF recall trade on the dense branch only (the lexical
  * branch is always exact).
  */
object HybridIndex {

  /** Take-down DELETE mirrored through BOTH persisted branches: one
    * call commits the ids as a [[TextIndex.delete]] epoch (BM25
    * exclusion with exact df/nDocs/sumDl corrections) AND an
    * [[IvfIndex.delete]] tombstone (dense-branch exclusion), so a
    * deleted doc stops ranking in lexical, dense, and fused results
    * together. Each side keeps its own commit (staged ids, marker last)
    * and its own physical removal ([[compact]]); a crash between the
    * two sides leaves one side committed — re-run the SAME name to
    * finish (both sides replay committed names as no-ops).
    */
  def delete(spark: org.apache.spark.sql.SparkSession, textPath: String,
      ivfPath: String, ids: DataFrame, idCol: String,
      name: String): Unit = {
    TextIndex.delete(spark, textPath, ids, idCol, name)
    IvfIndex.delete(spark, ivfPath, ids, idCol, name)
  }

  /** MAINTENANCE mirrored through both persisted branches:
    * [[TextIndex.compactSegments]] on the text side (merges segments,
    * removes committed deletes physically, migrates a plain layout) and
    * [[IvfIndex.compactEpochs]] on the vector side. Each side keeps its
    * own commit protocol (generation stage + pointer flip), so a crash
    * between the two leaves one side compacted and the other untouched
    * — re-run to finish; results are identical throughout (compaction
    * is physical-layout work, never answer work).
    *
    * Returns (textCompacted, vectorCompacted) — false = that side had
    * nothing to do.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, textPath: String,
      ivfPath: String, refit: Boolean = false): (Boolean, Boolean) =
    (TextIndex.compactSegments(spark, textPath),
      IvfIndex.compactEpochs(spark, ivfPath, refit))

  /** RRF-fused top-k for EXTERNAL queries — (id, text, vector) rows
    * that are NOT corpus members: the search-box serving shape, where
    * a fresh document arrives and needs its fused neighbors without
    * ever being ingested (r18; [[queryByIds]] is the corpus-member
    * variant with self-exclusion). No self rule applies — an external
    * query has no corpus row to exclude — so the top hit of a query
    * whose text/vector duplicate a stored doc is that doc at rank 1
    * on both branches.
    *
    * Query ids must be integral and disjoint from the corpus id space:
    * the dense branch excludes a corpus row whose id equals the query's
    * (the corpus-member self rule of [[IvfIndex.query]]), so a
    * colliding id would silently drop exactly its own doc from the
    * dense branch. Offset external ids (the catalog entry adds 10^6).
    *
    * Both branch scans file-prune the saved layouts exactly as
    * [[queryByIds]]'s do; the query frame is collected once and both
    * branches bind from those rows. The fusion tail is the shared
    * [[Extensions.rrfFuseRanked]]. Output:
    * (query_id, <text index idCol>, lex_rank, vec_rank, rrf_score,
    * rank ≤ k).
    */
  def query(textIndex: SegmentedTextIndex, ivfIndex: IvfIndex,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      queryVecCol: String, kBranch: Int = 20, k: Int = 10,
      nprobe: Int = 4, rrfK: Int = 60): DataFrame = {
    require(kBranch >= 1 && k >= 1 && nprobe >= 1 && rrfK >= 1,
      "need kBranch >= 1, k >= 1, nprobe >= 1, rrfK >= 1")
    val q = queries.select(col(queryIdCol),
      Extensions.tokens(col(queryTextCol)), col(queryVecCol))
    val (idType, vecType) = (q.schema(0).dataType, q.schema(2).dataType)
    val rows = Extensions.collectInternal(q).toSeq
    fuse(textIndex, ivfIndex,
      TextIndex.QueryText(rows.map(r =>
        (if (r.isNullAt(0)) null else r.get(0, idType),
          if (r.isNullAt(1)) null else r.getArray(1))), idType),
      IvfIndex.QueryVectors.of(rows, 0, 2, idType, vecType),
      excludeSelf = false, kBranch, k, nprobe, rrfK)
  }

  /** RRF-fused top-k for query documents that are corpus members
    * (`queryIds` in the shared doc/vec id space): `queryDocs` supplies
    * the query TEXT (usually the documents table), the IVF index the
    * query VECTORS under the same ids — both id-set lookups bound by
    * reference and run as ONE collect (a union of the two). Self is
    * excluded from both branches. Output matches
    * [[Extensions.rrfFusion]]:
    * (query_id, <text index idCol>, lex_rank, vec_rank, rrf_score,
    * rank ≤ k).
    */
  def queryByIds(textIndex: SegmentedTextIndex, ivfIndex: IvfIndex,
      queryDocs: DataFrame, queryTextCol: String, queryIds: Seq[Long],
      kBranch: Int = 20, k: Int = 10, nprobe: Int = 4,
      rrfK: Int = 60): DataFrame = {
    require(queryIds.nonEmpty && kBranch >= 1 && k >= 1 && rrfK >= 1,
      "need queryIds nonempty, kBranch >= 1, k >= 1, rrfK >= 1")
    val idCol = textIndex.idCol
    val vectors = ivfIndex.queryVectors(queryIds)
    val vecType = vectors.schema("__q").dataType
    // one row per query document and per query vector; `__dense` tells
    // them apart (a null text and a null vector look alike otherwise)
    val texts = queryDocs
      .filter(Extensions.idsIn(queryDocs, idCol, queryIds))
      .select(lit(false).as("__dense"), col(idCol).cast("long").as("query_id"),
        Extensions.tokens(col(queryTextCol)).as("__toks"),
        lit(null).cast(vecType).as("__q"))
    val rows = Extensions.collectInternal(texts.unionByName(
        vectors.select(lit(true).as("__dense"),
          col("query_id").cast("long").as("query_id"),
          lit(null).cast("array<string>").as("__toks"), col("__q"))))
      .toSeq
    val (dense, text) = rows.partition(_.getBoolean(0))
    fuse(textIndex, ivfIndex,
      TextIndex.QueryText(text.map(r => (r.getLong(1),
        if (r.isNullAt(2)) null else r.getArray(2))), LongType),
      IvfIndex.QueryVectors.of(dense, 1, 3, LongType, vecType),
      excludeSelf = true, kBranch, k, nprobe, rrfK)
  }

  /** Both branches over the resolved request, ranked and fused. With
    * `excludeSelf` the lexical branch drops a query's own document
    * BEFORE its bounded-heap rank — the direct non-self top-kBranch,
    * which is what the in-memory form's kBranch+1 heap + de-self
    * re-rank computes (see [[Extensions.deSelfRerank]]); the dense
    * branch always excludes a row under the query's own id. */
  private def fuse(textIndex: SegmentedTextIndex, ivfIndex: IvfIndex,
      text: TextIndex.QueryText, vectors: IvfIndex.QueryVectors,
      excludeSelf: Boolean, kBranch: Int, k: Int, nprobe: Int,
      rrfK: Int): DataFrame = {
    val idCol = textIndex.idCol
    val lex = Extensions.topKBy(
        textIndex.scoresOf(text, "query_id", excludeSelf), "query_id",
        idCol, "__score_int", kBranch, smallestFirst = false)
      .select(col("query_id"), col(idCol), col("rank").as("lex_rank"))
    val dense = ivfIndex.search(vectors, kBranch, nprobe)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("rank").as("vec_rank"))
    Extensions.rrfFuseRanked(lex, dense, idCol, k, rrfK)
  }
}

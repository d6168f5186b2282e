package graft.engine

import org.apache.spark.sql.functions._
import graft.functions.TokenHash

/** Catalog entries for the Extensions operators (dedup / similarity /
  * text analysis), following the same determinism conventions as
  * [[Relational]]. Non-SQL-expressible ops (LSH families) register
  * without an oracle → driver records the rows-only check; their
  * semantics are covered by ScalaTest instead.
  */
object ExtensionQueries {

  import Tables._

  // spec parameters shared by a Spark call and its oracle SQL — defined
  // once and interpolated into both sides so they cannot drift
  private val TfidfK = 3
  private val BigramRareBelow = 5L
  private val Bm25K = 10
  private val RrfQueryIds = Seq(0L, 1L, 2L)
  private val RrfKBranch = 20
  private val RrfFinalK = 10
  private val RrfConst = 60
  private val HybridNCells = 8
  private val HybridTreeNCells = 64
  private val HybridTreeNProbe = 8
  private val CmsDepth = 4
  private val CmsWidth = 16384
  private val DsirBuckets = 4096
  private val QualityLrBuckets = 512
  private val BloomBits = 1 << 20
  private val BloomHashes = 4
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "fast hash join", 1L -> "spark window agg",
    2L -> "slow scan filter")
  private def bm25QueryValues: String = Bm25Queries
    .map { case (id, t) => s"($id::BIGINT, '$t')" }.mkString(", ")

  /** The BM25 twin (integer micro-unit contributions, exact integer
    * sum, single final division — see [[Extensions.bm25TopK]]), shared
    * by `bm25_topk` (`docFilter = ""`) and `bm25_delete` (survivors
    * only): tf/dl/df AND the global n_docs/sum_dl all derive from the
    * filtered corpus, which is exactly the statistics contract the
    * TextIndex delete path must reproduce. */
  private def bm25OracleSql(docFilter: String): String =
    s"""WITH q AS (
       |  SELECT * FROM (VALUES $bm25QueryValues) AS v(query_id, qtext)),
       |qt AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT query_id,
       |           unnest(string_split(lower(qtext), ' ')) AS term
       |    FROM q) WHERE term <> ''),
       |tk AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |  FROM documents$docFilter),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM tk WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY 1),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*)::BIGINT AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
       |sc AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         CAST(round(
       |           ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
       |           * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25
       |               + 0.75 * dl.dl / (st.sum_dl / st.n_docs))))
       |           * 1000000.0) AS BIGINT) AS contrib
       |  FROM qt JOIN tf USING (term) JOIN df USING (term)
       |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
       |agg AS (SELECT query_id, doc_id,
       |               CAST(sum(contrib) AS BIGINT) AS score_int
       |        FROM sc GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, score_int,
       |             row_number() OVER (PARTITION BY query_id
       |               ORDER BY score_int DESC, doc_id) AS rank
       |      FROM agg)
       |SELECT query_id, doc_id, score_int / 1000000.0 AS bm25,
       |       rank::INT AS rank
       |FROM r WHERE rank <= $Bm25K
       |ORDER BY query_id, rank""".stripMargin

  /** Per-JVM build-once cache for the `hybrid_topk` pair: the
    * persisted hybrid layout exists to be built ONCE and queried many
    * times, so the two catalog configurations (exhaustive + pruned)
    * share one saved TextIndex + IvfIndex per sf dir — whichever entry
    * runs first pays the build + save, the other reads the same
    * layout (the bucketed_join first-run-materialization precedent).
    * JVM-scoped, never cross-run: a fresh Verify/Bench process always
    * rebuilds, so a code change can't serve a stale index. */
  // keyed by (session, dir, nCells): cached indexes hold DataFrames
  // bound to the session that built them — a later session in the same
  // JVM (sequential suites in one sbt fork) must rebuild, not inherit
  // frames whose SparkContext is stopped (a review finding). nCells
  // keys the flat (HybridNCells) and tree-mode (HybridTreeNCells, r18)
  // pairs apart. The temp build dir is registered for JVM-exit
  // deletion.
  private val hybridIdxCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, Int), IvfIndex]()
  // the text index is nCells-INDEPENDENT — one per (session, dir),
  // shared by the flat and tree pairs (r18 review finding F5: keying
  // it under nCells built and saved the same text index twice)
  private val hybridTextCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String), SegmentedTextIndex]()

  /** Temp dir removed RECURSIVELY at JVM exit: `File.deleteOnExit`
    * silently no-ops on non-empty directories, so a per-run store
    * tree would otherwise leak into /tmp on every catalog pass
    * (review finding — and disk exhaustion from accumulated run
    * debris is exactly what killed the first ×100 probe battery).
    * ONE shutdown hook drains a concurrent queue of paths (ADVICE
    * r14): a hook per call — with semantic_dedup_incremental calling
    * this on every invocation, cold pass plus each requery — would
    * accumulate hook threads AND keep every run's full store tree on
    * disk until exit. The queue costs one thread total, and eager
    * per-call deletion is still wrong (a cached hybrid index built in
    * an earlier call must outlive it), so exit-time remains the right
    * deletion point; the bounded leak is the trees themselves, which
    * the ×100 battery sidesteps with one JVM per shape. */
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
        ()
      }
      var p = tempDirs.poll()
      while (p != null) { rm(p.toFile); p = tempDirs.poll() }
    }))
  }
  private def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** Build-and-cache the hybrid pair's shared persisted indexes
    * WITHOUT running a query — Bench's deterministic payer for the
    * one-time per-JVM build (VERDICT r14 #2 blemish): charged to
    * whichever hybrid entry a shuffled order ran first, the build
    * showed up as a 4× worst-ratio artifact on that entry and tripped
    * the requery trigger every run; charged to warmup, both entries
    * time the steady-state query path the build-once/query-many
    * contract is about. Verify and the specs never call this, so the
    * correctness path still exercises the cold build. */
  def warmHybridIndexes(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    hybridIndexes(s, d, HybridNCells)
    hybridIndexes(s, d, HybridTreeNCells)
    ()
  }

  private def hybridIndexes(s: org.apache.spark.sql.SparkSession,
      d: String, nCells: Int): (SegmentedTextIndex, IvfIndex) = {
    val text = hybridTextCache.computeIfAbsent((s, d), _ => {
      val dir = tempDir("graft-hybrid-text")
      TextIndex.build(documents(s, d), "text", "doc_id", nBuckets = 16)
        .save(s"$dir/text")
      TextIndex.load(s, s"$dir/text")
    })
    val ivf = hybridIdxCache.computeIfAbsent((s, d, nCells), _ => {
      val dir = tempDir("graft-hybrid")
      IvfIndex.build(embeddings(s, d), "embedding", "vec_id",
        nCells = nCells).save(s"$dir/ivf")
      IvfIndex.load(s, s"$dir/ivf", "vec_id", "embedding")
    })
    (text, ivf)
  }

  /** Generated DuckDB twin for `ann_bucketed`: the seeded gaussian
    * hyperplanes come from the SAME generator the operator buckets
    * with ([[Extensions.annPlanes]]) and enter the SQL as
    * shortest-round-trip double literals, so DuckDB's sign buckets,
    * OR-table candidate join, and full-precision L2 rescore replay the
    * Spark plan exactly. `dim` is pinned by the caller (the testdata
    * embedding width) — a mismatched corpus would fail the compare
    * loudly rather than silently bucket differently. */
  private def annBucketedOracleSql(queryIds: Seq[Long], k: Int,
      numTables: Int, bitsPerTable: Int, seed: Long, dim: Int): String = {
    val planes = Extensions.annPlanes(dim, numTables, bitsPerTable, seed)
    def planeLit(p: Array[Float]): String =
      p.map(_.toDouble.toString).mkString("[", ", ", "]")
    def bucketExpr(v: String, t: Int): String =
      (0 until bitsPerTable).map { b =>
        s"(CASE WHEN list_dot_product($v, ${planeLit(planes(t)(b))}) >= 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val corpusBuckets = (0 until numTables)
      .map(t => s"${bucketExpr("emb", t)} AS b$t").mkString(",\n       ")
    val queryCols = (0 until numTables).map(t => s"b$t AS qb$t")
      .mkString(", ")
    val collide = (0 until numTables).map(t => s"c.b$t = q.qb$t")
      .mkString(" OR ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |eb AS (
       |  SELECT vec_id, emb,
       |       $corpusBuckets
       |  FROM e),
       |q AS (
       |  SELECT vec_id AS query_id, emb AS qe, $queryCols
       |  FROM eb WHERE vec_id IN (${queryIds.mkString(", ")})),
       |cand AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, q.qe, c.emb
       |  FROM eb c JOIN q ON ($collide)
       |  WHERE c.vec_id <> q.query_id),
       |d AS (
       |  SELECT query_id, neighbor_id,
       |         sqrt(greatest(list_dot_product(qe, qe)
       |           + list_dot_product(emb, emb)
       |           - 2 * list_dot_product(qe, emb), 0)) AS l2
       |  FROM cand),
       |r AS (
       |  SELECT query_id, neighbor_id, l2,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY l2, neighbor_id)::INT AS rank
       |  FROM d)
       |SELECT query_id, neighbor_id, round(l2, 6) AS l2_dist, rank
       |FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Generated DuckDB twin for `mmr_rerank`: the greedy MMR selection
    * unrolled into one CTE triple (remaining → max-sim-to-selected →
    * argmax pick) per step, the BPE-oracle playbook. Every score is
    * exact integer micro-units (7·rel − 3·maxSim — λ=0.7 scaled ×10),
    * so the whole k-step trajectory is bit-reproducible. */
  private def mmrOracleSql(queryIds: Seq[Long], kBranch: Int,
      k: Int): String = {
    def cos(a: String, b: String): String =
      s"""CASE WHEN list_dot_product($a, $a) = 0
         |              OR list_dot_product($b, $b) = 0 THEN 0
         |         ELSE list_dot_product($a, $b)
         |              / (sqrt(list_dot_product($a, $a))
         |               * sqrt(list_dot_product($b, $b))) END""".stripMargin
    val steps = (2 to k).map { i =>
      val prior = (1 until i).map(j => s"SELECT * FROM sel$j")
        .mkString(" UNION ALL ")
      s"""selu$i AS ($prior),
         |rem$i AS (
         |  SELECT c.* FROM cands c LEFT JOIN selu$i s
         |    ON c.query_id = s.query_id AND c.nid = s.nid
         |  WHERE s.nid IS NULL),
         |ms$i AS (
         |  SELECT r.query_id, r.nid, r.rel, max(p.sim) AS maxsim
         |  FROM rem$i r
         |  JOIN pairs p ON p.query_id = r.query_id AND p.ca = r.nid
         |  JOIN selu$i s ON s.query_id = p.query_id AND s.nid = p.cb
         |  GROUP BY 1, 2, 3),
         |sel$i AS (
         |  SELECT query_id, nid, rel, maxsim, 7 * rel - 3 * maxsim
         |           AS score, $i AS sel_rank
         |  FROM (SELECT ms$i.*, row_number() OVER (PARTITION BY query_id
         |          ORDER BY 7 * rel - 3 * maxsim DESC, nid) AS rn
         |        FROM ms$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k).map(j => s"SELECT * FROM sel$j")
      .mkString(" UNION ALL ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, emb AS qe FROM e
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |sc AS (
       |  SELECT q.query_id, e.vec_id AS nid,
       |         CAST(round(round(${cos("e.emb", "q.qe")}, 6)
       |           * 1000000.0) AS BIGINT) AS rel
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
       |cands AS (
       |  SELECT query_id, nid, rel FROM (
       |    SELECT sc.*, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, nid) AS rn FROM sc)
       |  WHERE rn <= $kBranch),
       |cv AS (
       |  SELECT c.query_id, c.nid, c.rel, e.emb
       |  FROM cands c JOIN e ON e.vec_id = c.nid),
       |pairs AS (
       |  SELECT a.query_id, a.nid AS ca, b.nid AS cb,
       |         CAST(round(${cos("a.emb", "b.emb")} * 1000000.0)
       |           AS BIGINT) AS sim
       |  FROM cv a JOIN cv b
       |    ON a.query_id = b.query_id AND a.nid <> b.nid),
       |sel1 AS (
       |  SELECT query_id, nid, rel, 0::BIGINT AS maxsim, 7 * rel AS score,
       |         1 AS sel_rank
       |  FROM (SELECT cands.*, row_number() OVER (PARTITION BY query_id
       |          ORDER BY 7 * rel DESC, nid) AS rn FROM cands)
       |  WHERE rn = 1),
       |$steps
       |SELECT query_id, nid AS neighbor_id, rel AS rel_micro,
       |       maxsim AS max_sim_micro, score AS mmr_micro, sel_rank
       |FROM ($unionAll) ORDER BY query_id, sel_rank""".stripMargin
  }

  /** One DuckDB twin serves the hybrid-search catalog forms:
    * `rrf_fusion` (the in-memory operator) and `hybrid_topk` (the
    * persisted TextIndex + IvfIndex composition under exhaustive
    * dense probes) share it verbatim — the two Spark paths are
    * bit-equal by the HybridIndexSpec parity law; and since r13
    * `hybrid_topk_pruned` gets the SAME twin with the dense branch
    * routed through the saved quantizer's literal centroids
    * ([[rrfOracleSqlPruned]]): assignment by squared-L2 argmin
    * (the r13 IVF-family rule), probe by (cos desc, cell), the
    * rescore restricted to probed cells. */
  private def rrfOracleSql: String = rrfOracleSqlWith(
    denseFrom = "FROM embeddings e CROSS JOIN qe", postQeCtes = "")

  /** The pruned-dense-branch variant — generated lazily from the
    * centroids of THIS run's cached hybrid IvfIndex. */
  private def rrfOracleSqlPruned(cents: Seq[Array[Float]],
      nprobe: Int): String = {
    val dim = cents.head.length
    val centRows = cents.zipWithIndex
      .map { case (w, i) => s"($i, ${PqOracles.listLit(w.toSeq)})" }
      .mkString(",\n    ")
    val cellDl = PqOracles.diffList("ev.emb", "", "cent.w", dim)
    // these CTEs slot in AFTER qe (they rank the probe cells per
    // query vector), hence postQeCtes
    val preCtes = s"""cent(cell, w) AS (VALUES
       |    $centRows),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |celld AS (
       |  SELECT ev.vec_id, cent.cell,
       |         list_dot_product($cellDl,
       |                          $cellDl) AS d
       |  FROM ev, cent),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT celld.*, row_number() OVER (PARTITION BY vec_id
       |             ORDER BY d, cell) AS rn FROM celld)
       |  WHERE rn = 1),
       |qcent AS (
       |  SELECT qe.query_id, cent.cell,
       |         ${PqOracles.cosSql("qe.qe", "cent.w")} AS c
       |  FROM qe, cent),
       |qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT qcent.*, row_number() OVER (PARTITION BY query_id
       |             ORDER BY c DESC, cell) AS rn FROM qcent)
       |  WHERE rn <= $nprobe),
       |""".stripMargin
    rrfOracleSqlWith(
      denseFrom = """FROM embeddings e
        |  JOIN asg a ON a.vec_id = e.vec_id
        |  JOIN qprobe p ON p.cell = a.cell
        |  JOIN qe ON qe.query_id = p.query_id""".stripMargin,
      postQeCtes = preCtes)
  }

  /** The TREE-MODE dense-branch variant (hybrid_tree_topk, VERDICT
    * r17 #5): the shared RRF template with the dense branch routed
    * through the LOADED sidecar's two-level machinery — exactly
    * [[PqOracles.ivfTreeSql]]'s assignment (nearest super by squared
    * L2, ties low; nearest leaf within the group, ties low), probe
    * selection (top-superProbe groups → their leaves ascending
    * (distance, cell)), and the ADVICE r15 self-cell-first rule
    * (the query's own tree-assigned cell prepended, dedup keeping
    * first, cut at nprobe) — generated lazily from the tree quantizer
    * of THIS run's cached tree-mode hybrid pair. Float centroids
    * enter as shortest-round-trip doubles of the sidecar floats. */
  private def rrfOracleSqlTree(tq: Extensions.TreeQuantizer,
      nprobe: Int): String = {
    val dim = tq.dim
    val superProbe = tq.superProbeFor(nprobe)
    val ids = RrfQueryIds.mkString(", ")
    val supRows = (0 until tq.nGroups).map { g =>
      s"($g, ${PqOracles.listLit(
        tq.supFlat.slice(g * dim, (g + 1) * dim).toSeq)})"
    }.mkString(",\n    ")
    val leafRows = (0 until tq.nLeaves).map { l =>
      val gid = tq.groupStart.indexWhere(_ > l) - 1
      s"($l, $gid, ${PqOracles.listLit(
        tq.leafFlat.slice(l * dim, (l + 1) * dim).toSeq)})"
    }.mkString(",\n    ")
    val supDl = PqOracles.diffList("ev.emb", "", "sup.w", dim)
    val leafDl = PqOracles.diffList("ev.emb", "", "lv.w", dim)
    val preCtes = s"""sup(gid, w) AS (VALUES
       |    $supRows),
       |leafv(cell, gid, w) AS (VALUES
       |    $leafRows),
       |ev AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |supd AS (
       |  SELECT ev.vec_id, sup.gid,
       |         row_number() OVER (PARTITION BY ev.vec_id
       |           ORDER BY list_dot_product($supDl,
       |                                     $supDl), sup.gid) AS rn
       |  FROM ev, sup),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT b.vec_id, lv.cell,
       |           row_number() OVER (PARTITION BY b.vec_id
       |             ORDER BY list_dot_product($leafDl,
       |                                       $leafDl), lv.cell) AS rn
       |    FROM supd b
       |    JOIN leafv lv ON lv.gid = b.gid
       |    JOIN ev ON ev.vec_id = b.vec_id
       |    WHERE b.rn = 1)
       |  WHERE rn = 1),
       |treeprobe AS (
       |  SELECT query_id, cell, rn AS ord FROM (
       |    SELECT pg.vec_id AS query_id, lv.cell,
       |           row_number() OVER (PARTITION BY pg.vec_id
       |             ORDER BY list_dot_product($leafDl,
       |                                       $leafDl), lv.cell) AS rn
       |    FROM supd pg
       |    JOIN leafv lv ON lv.gid = pg.gid
       |    JOIN ev ON ev.vec_id = pg.vec_id
       |    WHERE pg.rn <= $superProbe AND pg.vec_id IN ($ids))
       |  WHERE rn <= $nprobe),
       |allp AS (
       |  SELECT vec_id AS query_id, cell, 0 AS ord FROM asg
       |  WHERE vec_id IN ($ids)
       |  UNION ALL SELECT query_id, cell, ord FROM treeprobe),
       |qprobe AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, ord,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY ord) AS rn FROM (
       |      SELECT query_id, cell, ord,
       |             row_number() OVER (PARTITION BY query_id, cell
       |               ORDER BY ord) AS dup FROM allp)
       |    WHERE dup = 1)
       |  WHERE rn <= $nprobe),
       |""".stripMargin
    rrfOracleSqlWith(
      denseFrom = """FROM embeddings e
        |  JOIN asg a ON a.vec_id = e.vec_id
        |  JOIN qprobe p ON p.cell = a.cell
        |  JOIN qe ON qe.query_id = p.query_id""".stripMargin,
      postQeCtes = preCtes)
  }

  /** `qidOffset`/`selfExclude` parameterize the EXTERNAL-query form
    * (hybrid_query_topk, r18): query ids offset out of the corpus id
    * space and NO self-exclusion on either branch — an external query
    * has no corpus row to exclude, so a duplicate-text query surfaces
    * its stored twin at rank 1. Defaults reproduce the corpus-member
    * template byte-for-byte. */
  private def rrfOracleSqlWith(denseFrom: String,
      postQeCtes: String, qidOffset: Long = 0L,
      selfExclude: Boolean = true): String = {
    val qid = if (qidOffset == 0L) "doc_id" else s"doc_id + $qidOffset"
    val qvid = if (qidOffset == 0L) "vec_id" else s"vec_id + $qidOffset"
    val lexSelf = if (selfExclude) "WHERE tf.doc_id <> qt.query_id" else ""
    val denseSelf =
      if (selfExclude) "WHERE e.vec_id <> qe.query_id" else ""
    s"""WITH q AS (
             |  SELECT $qid AS query_id, text AS qtext FROM documents
             |  WHERE doc_id IN (${RrfQueryIds.mkString(", ")})),
             |qt AS (
             |  SELECT DISTINCT query_id, term FROM (
             |    SELECT query_id,
             |           unnest(string_split(lower(qtext), ' ')) AS term
             |    FROM q) WHERE term <> ''),
             |tk AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |       FROM tk WHERE term <> '' GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
             |       FROM tf GROUP BY 1),
             |dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |st AS (SELECT count(*)::BIGINT AS n_docs,
             |              CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
             |sc AS (
             |  SELECT qt.query_id, tf.doc_id,
             |         CAST(round(
             |           ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
             |           * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25
             |               + 0.75 * dl.dl / (st.sum_dl / st.n_docs))))
             |           * 1000000.0) AS BIGINT) AS contrib
             |  FROM qt JOIN tf USING (term) JOIN dfq USING (term)
             |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
             |  $lexSelf),
             |lagg AS (SELECT query_id, doc_id,
             |                CAST(sum(contrib) AS BIGINT) AS score_int
             |         FROM sc GROUP BY 1, 2),
             |lexr AS (SELECT query_id, doc_id,
             |                row_number() OVER (PARTITION BY query_id
             |                  ORDER BY score_int DESC, doc_id) AS lex_rank
             |         FROM lagg),
             |lex AS (SELECT * FROM lexr WHERE lex_rank <= $RrfKBranch),
             |qe AS (SELECT $qvid AS query_id, embedding::DOUBLE[] AS qe
             |       FROM embeddings
             |       WHERE vec_id IN (${RrfQueryIds.mkString(", ")})),
             |${postQeCtes}cs AS (
             |  SELECT qe.query_id, e.vec_id AS doc_id,
             |         round(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
             |                                          e.embedding::DOUBLE[]) = 0
             |                      OR list_dot_product(qe.qe, qe.qe) = 0 THEN 0
             |               ELSE list_dot_product(e.embedding::DOUBLE[], qe.qe)
             |                    / (sqrt(list_dot_product(e.embedding::DOUBLE[],
             |                                             e.embedding::DOUBLE[]))
             |                     * sqrt(list_dot_product(qe.qe, qe.qe)))
             |               END, 6) AS cosine_sim
             |  $denseFrom
             |  $denseSelf),
             |denser AS (SELECT query_id, doc_id,
             |                  row_number() OVER (PARTITION BY query_id
             |                    ORDER BY cosine_sim DESC, doc_id) AS vec_rank
             |           FROM cs),
             |dense AS (SELECT * FROM denser WHERE vec_rank <= $RrfKBranch),
             |f AS (
             |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
             |         coalesce(l.doc_id, d.doc_id) AS doc_id,
             |         l.lex_rank, d.vec_rank,
             |         coalesce(1.0 / ($RrfConst + l.lex_rank), 0)
             |           + coalesce(1.0 / ($RrfConst + d.vec_rank), 0) AS rrf
             |  FROM lex l FULL JOIN dense d
             |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
             |r AS (SELECT query_id, doc_id, lex_rank::INT AS lex_rank,
             |             vec_rank::INT AS vec_rank,
             |             round(rrf, 6) AS rrf_score,
             |             row_number() OVER (PARTITION BY query_id
             |               ORDER BY rrf DESC, doc_id)::INT AS rank
             |      FROM f)
             |SELECT * FROM r WHERE rank <= $RrfFinalK
             |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared DuckDB twin for semantic_dedup AND
    * semantic_dedup_incremental: all-pairs cosine + WITH RECURSIVE
    * reachability + exact keep-best arg-max over the FULL corpus. The
    * incremental entry matching this batch SQL verbatim IS its
    * correctness statement — the pair store accumulated over the two
    * snapshots must equal the batch pair set on the union.
    * `extraWhere` narrows the corpus for the DELETE twin
    * (semantic_dedup_delete): a post-delete snapshot must equal the
    * batch run on the corpus WITHOUT the deleted ids — exactly this
    * SQL with the ids excluded up front. */
  private def semanticDedupOracleSql(extraWhere: String): String =
    s"""WITH RECURSIVE e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
      |  WHERE vec_id < 500$extraWhere
      |    AND vec_id IN (SELECT doc_id FROM documents)),
      |dd AS (
      |  SELECT d.doc_id, d.n_chars
      |  FROM documents d JOIN e ON d.doc_id = e.vec_id),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         round(CASE WHEN list_dot_product(a.emb, a.emb) = 0
      |                      OR list_dot_product(b.emb, b.emb) = 0 THEN 0
      |               ELSE list_dot_product(a.emb, b.emb)
      |                    / (sqrt(list_dot_product(a.emb, a.emb))
      |                     * sqrt(list_dot_product(b.emb, b.emb)))
      |               END, 6) AS cs
      |  FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id),
      |pairs AS (SELECT id_a, id_b FROM p WHERE cs >= 0.35),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM dd
      |  UNION
      |  SELECT e2.dst, reach.r
      |  FROM reach JOIN edges e2 ON e2.src = reach.id),
      |comp AS (SELECT id AS doc_id, min(r) AS component
      |         FROM reach GROUP BY id),
      |q AS (SELECT c.doc_id, c.component, dd.n_chars
      |      FROM comp c JOIN dd ON dd.doc_id = c.doc_id),
      |b1 AS (SELECT component, max(n_chars) AS bq FROM q GROUP BY 1),
      |b2 AS (SELECT q.component, min(q.doc_id) AS best_id
      |       FROM q JOIN b1 ON q.component = b1.component
      |        AND q.n_chars = b1.bq
      |       GROUP BY 1)
      |SELECT q.doc_id, q.component, q.n_chars,
      |       (q.doc_id = b2.best_id)::INT AS keep
      |FROM q JOIN b2 ON q.component = b2.component
      |ORDER BY q.doc_id""".stripMargin

  private val semanticDedupOracle: String = semanticDedupOracleSql("")

  /** The ids `semantic_dedup_delete` takes down — fixed literals so
    * the generated twin is static. */
  private val semanticDedupDeleteIds: Seq[Long] =
    (0L until 20L) ++ (300L until 310L)

  // ── BPE oracle building blocks (bpe_merges / bpe_stats): the greedy
  // merge loop unrolled into chained CTEs, one (pairs → best → reseg)
  // triple per round. State per word = its symbol list; resegmentation
  // is a list_reduce over a chr(31)-joined fold that mirrors Spark's
  // aggregate() rule exactly — merge when the accumulator's LAST SYMBOL
  // equals the rule's left and the incoming symbol its right, where
  // "last symbol equals a" is (acc = a OR ends_with(acc, SEP || a)) so
  // a symbol merely ENDING in a never false-matches. nc carries each
  // word's original char count for the stats aggregate. ─────────────────
  private val bpeSeedCte: String =
    """WITH w0 AS (
      |  SELECT w, string_split(w, '') AS s, count(*)::BIGINT AS f,
      |         len(w)::BIGINT AS nc FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0 GROUP BY w),""".stripMargin

  private def bpeRoundCtes(merges: Int): String =
    (1 to merges).map { r =>
      val prev = s"w${r - 1}"
      s"""
         |p$r AS (
         |  SELECT pr.a AS a, pr.b AS b, sum(f)::BIGINT AS c FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(s)-1),
         |             i -> {'a': s[i], 'b': s[i+1]})) AS pr, f
         |    FROM $prev WHERE len(s) >= 2)
         |  GROUP BY 1, 2),
         |b$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |w$r AS (
         |  -- LEFT JOIN ON true, not a cross join: when merges exhaust
         |  -- early (no pairs left) b$r is EMPTY, and a cross join
         |  -- would wipe the word table while Spark keeps segmenting —
         |  -- with null a/b the CASE's WHEN is NULL, so every symbol
         |  -- falls to the ELSE and the segmentation passes unchanged
         |  SELECT w, string_split(list_reduce(s, (acc, x) -> CASE
         |           WHEN (acc = b$r.a OR ends_with(acc, chr(31) || b$r.a))
         |                AND x = b$r.b
         |           THEN acc || x
         |           ELSE acc || chr(31) || x END), chr(31)) AS s, f, nc
         |  FROM $prev LEFT JOIN b$r ON true)""".stripMargin
    }.mkString(",")

  val catalog: Seq[QuerySpec] = Seq(

    // ── exact dedup with deterministic survivor ─────────────────────────
    QuerySpec("dedup_exact",
      (s, d) => Extensions.dedupExact(documents(s, d), Seq("text"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some("""WITH r AS (
             |  SELECT doc_id, lang, source, n_chars,
             |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             |  FROM documents)
             |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // ── incremental cross-snapshot dedup: new batch (doc_id ≥ 250)
    // anti-joined against the historical corpus (doc_id < 250) on
    // xxhash64(text) with null-safe text equality, then exact-deduped
    // within the batch — the recurring-crawl shape ───────────────────────
    QuerySpec("dedup_incremental",
      (s, d) => {
        val all = documents(s, d)
        Extensions.dedupIncremental(
            all.filter(col("doc_id") >= 250),
            all.filter(col("doc_id") < 250), Seq("text"), "doc_id")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT * FROM documents WHERE doc_id >= 250),
             |c AS (SELECT text FROM documents WHERE doc_id < 250),
             |fresh AS (
             |  SELECT * FROM b WHERE NOT EXISTS (
             |    SELECT 1 FROM c WHERE c.text IS NOT DISTINCT FROM b.text)),
             |r AS (
             |  SELECT doc_id, lang, source, n_chars,
             |         row_number() OVER (PARTITION BY text
             |                            ORDER BY doc_id) AS rn
             |  FROM fresh)
             |SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // ── best-variant dedup: canonicalize (here: 40-char prefix
    // fingerprint) and keep the highest-quality row of each group ───────
    QuerySpec("dedup_best",
      (s, d) => Extensions.dedupBest(
          documents(s, d).withColumn("canon", substring(col("text"), 1, 40)),
          Seq("canon"), "doc_id", "n_chars")
        .select("doc_id", "n_chars")
        .orderBy("doc_id"),
      Some("""WITH ranked AS (
             |  SELECT doc_id, n_chars,
             |         row_number() OVER (PARTITION BY substr(text, 1, 40)
             |                            ORDER BY n_chars DESC, doc_id) AS rn
             |  FROM documents)
             |SELECT doc_id, n_chars FROM ranked WHERE rn = 1
             |ORDER BY doc_id""".stripMargin)),

    // ── deterministic global shuffle: stable training order as if
    // sorted by (md5(key), key), computed two-level (bucket ranks +
    // broadcast prefix-sum offsets), never a global sort ────────────────
    QuerySpec("corpus_shuffle",
      (s, d) => Extensions.shuffleDeterministic(documents(s, d), "doc_id")
        .select("doc_id", "shuffle_pos")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id)
             |         - 1 AS shuffle_pos
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── text statistics + quality score (integer-derived → exact) ───────
    QuerySpec("text_stats",
      (s, d) => Extensions.textStats(documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, text, length(text) AS char_count,
             |         length(replace(text, ' ', '')) AS no_space,
             |         ' ' || lower(text) || ' ' AS padded
             |  FROM documents),
             |u AS (
             |  SELECT doc_id, text, padded, char_count, no_space,
             |         char_count - no_space + 1 AS token_count,
             |         no_space - length(replace(replace(replace(replace(
             |           replace(text, ' ', ''), '.', ''), ',', ''), '!', ''),
             |           '?', '')) AS punct_count
             |  FROM t),
             |v AS (
             |  SELECT *, round(no_space / token_count, 6) AS avg_token_len,
             |    CAST((length(padded) - length(replace(padded, ' the ', ' '))) / 4
             |       + (length(padded) - length(replace(padded, ' a ', ' '))) / 2
             |       + (length(padded) - length(replace(padded, ' of ', ' '))) / 3
             |       + (length(padded) - length(replace(padded, ' and ', ' '))) / 4
             |       + (length(padded) - length(replace(padded, ' to ', ' '))) / 3
             |      AS BIGINT) AS stopword_count
             |  FROM u)
             |SELECT doc_id, char_count::INT AS char_count,
             |       token_count::INT AS token_count,
             |       punct_count::INT AS punct_count,
             |       avg_token_len, stopword_count,
             |       round(least(1.0, token_count / 100.0) * 0.5
             |           + (1.0 - least(1.0, punct_count / greatest(token_count, 1))) * 0.3
             |           + least(1.0, avg_token_len / 10.0) * 0.2, 6) AS quality_score
             |FROM v ORDER BY doc_id""".stripMargin)),

    // ── language-ID heuristic (distinct-stopword scoring, fixed-precedence
    // argmax) ────────────────────────────────────────────────────────────
    QuerySpec("lang_id",
      (s, d) => Extensions.langId(documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some {
        val scores = Extensions.langProfiles.map { case (lang, words) =>
          val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_intersect(toks, $lst))::INT AS score_$lang"
        }.mkString(",\n             |         ")
        val langs = Extensions.langProfiles.map(_._1)
        val best = langs.map(l => s"score_$l").mkString("greatest(", ", ", ")")
        val cases = langs.map(l =>
          s"WHEN score_$l = best AND best > 0 THEN '$l'").mkString("\n             |         ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |         list_distinct(string_split(lower(text), ' ')) AS toks
           |  FROM documents),
           |s AS (
           |  SELECT doc_id,
           |         $scores
           |  FROM t),
           |b AS (SELECT *, $best AS best FROM s)
           |SELECT doc_id, score_en, score_fr, score_de, score_es, score_zh,
           |       CASE $cases
           |         ELSE 'und' END AS pred_lang
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    // ── brute-force cosine vs one query vector (float arrays, double math,
    // sequential fold — mirrored by list_dot_product on DOUBLE[]) ─────────
    QuerySpec("cosine_sim",
      (s, d) => Extensions.cosineVsQuery(embeddings(s, d), "embedding",
          "vec_id", queryId = 0L)
        .select(col("vec_id"), round(col("cosine_sim"), 6).as("cosine_sim"))
        .orderBy("vec_id"),
      Some("""WITH q AS (
             |  SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
             |SELECT e.vec_id,
             |       round(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
             |                                        e.embedding::DOUBLE[]) = 0
             |                    OR list_dot_product(q.qe, q.qe) = 0 THEN 0
             |             ELSE list_dot_product(e.embedding::DOUBLE[], q.qe)
             |                  / (sqrt(list_dot_product(e.embedding::DOUBLE[],
             |                                           e.embedding::DOUBLE[]))
             |                   * sqrt(list_dot_product(q.qe, q.qe)))
             |             END, 6) AS cosine_sim
             |FROM embeddings e CROSS JOIN q ORDER BY e.vec_id""".stripMargin)),

    // ── brute-force top-k neighbors for 5 query vectors ──────────────────
    QuerySpec("cosine_topk",
      (s, d) => Extensions.cosineTopK(embeddings(s, d), "embedding",
          "vec_id", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
        .orderBy("query_id", "rank"),
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
             |  FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
             |s AS (
             |  SELECT q.query_id, e.vec_id AS neighbor_id,
             |         round(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
             |                                          e.embedding::DOUBLE[]) = 0
             |                      OR list_dot_product(q.qe, q.qe) = 0 THEN 0
             |               ELSE list_dot_product(e.embedding::DOUBLE[], q.qe)
             |                    / (sqrt(list_dot_product(e.embedding::DOUBLE[],
             |                                             e.embedding::DOUBLE[]))
             |                     * sqrt(list_dot_product(q.qe, q.qe)))
             |               END, 6) AS cosine_sim
             |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
             |r AS (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY cosine_sim DESC, neighbor_id)::INT AS rank FROM s)
             |SELECT query_id, neighbor_id, cosine_sim, rank FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // ── all-rows k-NN self-join, PRODUCTION configuration: pruned
    // probes scan nprobe/nCells of the corpus per row — the config the
    // scale story runs on (exponent 0.34 under grow-nCells, BASELINE.md;
    // seeded KMeans blocking → rows-only here, recall law pinned in
    // ExtensionsSpec against the exhaustive form) ───────────────────────
    // (ORACLE-exact since r13: literal-centroid assignment + the
    // shared (d, cell) probe ranking replayed from THIS run's
    // captured fit — PqOracles.knnPrunedSql)
    QuerySpec("knn_join_pruned",
      (s, d) => {
        val out = Extensions.knnJoin(embeddings(s, d), "embedding",
            "vec_id", k = 3, nCells = 16, nprobe = 4)
          .orderBy("query_id", "rank")
        Option(Extensions.lastKnnJoinFit.get())
          .foreach(PqOracles.stashKnnPruned)
        out
      },
      None,
      lazyOracle = Some(() => PqOracles.knnPrunedSql(k = 3, nprobe = 4))),

    // ── all-rows k-NN self-join (every row's top-3 neighbors — the
    // hard-negative-mining shape). Exhaustive probes here (nprobe =
    // nCells) so every pair is scored exactly once and the result is
    // the brute-force per-row top-k REGARDLESS of the KMeans seed —
    // oracle-exact through the full cell/probe/heap machinery; the
    // pruned-probe recall trade is law-pinned in ExtensionsSpec ────────
    QuerySpec("knn_join",
      (s, d) => Extensions.knnJoin(embeddings(s, d), "embedding",
          "vec_id", k = 3, nCells = 8, nprobe = 8)
        .orderBy("query_id", "rank"),
      Some("""WITH s AS (
             |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             |         round(CASE WHEN list_dot_product(b.embedding::DOUBLE[],
             |                                          b.embedding::DOUBLE[]) = 0
             |                      OR list_dot_product(a.embedding::DOUBLE[],
             |                                          a.embedding::DOUBLE[]) = 0
             |                    THEN 0
             |               ELSE list_dot_product(b.embedding::DOUBLE[],
             |                                     a.embedding::DOUBLE[])
             |                    / (sqrt(list_dot_product(b.embedding::DOUBLE[],
             |                                             b.embedding::DOUBLE[]))
             |                     * sqrt(list_dot_product(a.embedding::DOUBLE[],
             |                                             a.embedding::DOUBLE[])))
             |               END, 6) AS cosine_sim
             |  FROM embeddings a CROSS JOIN embeddings b
             |  WHERE a.vec_id <> b.vec_id),
             |r AS (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY cosine_sim DESC, neighbor_id)::INT AS rank FROM s)
             |SELECT query_id, neighbor_id, cosine_sim, rank FROM r
             |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // ── all-rows k-NN self-join, TREE-QUANTIZER configuration (r16):
    // nCells = 64 crosses Extensions.treeCellThreshold, so this runs
    // the SCALE path — bounded-sample two-level fit, codegen'd tree
    // assignment + tree probe selection (n·2√nCells, the r15 kernel
    // that killed the knn f² tail) — with a full capture-replay
    // oracle: the two-level rule is a pure literal projection, so
    // PqOracles.knnTreeSql replays assignment, probe selection, the
    // guarded-cosine rescore and the rank bit-for-bit (VERDICT r15
    // #3 — the scale path's first oracle-checked catalog presence) ─────
    QuerySpec("knn_join_tree",
      (s, d) => {
        val out = Extensions.knnJoin(embeddings(s, d), "embedding",
            "vec_id", k = 3, nCells = 64, nprobe = 8)
          .orderBy("query_id", "rank")
        Option(Extensions.lastKnnTreeFit.get())
          .foreach(PqOracles.stashKnnTree)
        out
      },
      None,
      lazyOracle = Some(() => PqOracles.knnTreeSql(k = 3, nprobe = 8))),

    // ── PERSISTED tree-mode index, full lifecycle priced into one
    // entry (VERDICT r16 #5): build past the tree threshold → save
    // (sidecar + cell-partitioned layout) → load (sidecar round-trip
    // rebuilds the two-level rule, _qv-validated) → query by ids.
    // This is the 100 TB SERVING shape — knn_join_tree covers the
    // ad-hoc tree fit; this covers the layout a cluster would build
    // once and query many times. The oracle replays the LOADED
    // sidecar's floats through the two-level assignment, the
    // self-cell-first probe rule (ADVICE r15), and the shared
    // guarded-cosine rescore — capture-replay, bit-exact ─────────────────
    QuerySpec("ivf_tree_topk",
      (s, d) => {
        val dir = tempDir("graft-ivftree")
        IvfIndex.build(embeddings(s, d), "embedding", "vec_id",
          nCells = 64).save(s"$dir/idx")
        val idx = IvfIndex.load(s, s"$dir/idx", "vec_id", "embedding")
        idx.treeQuantizer.foreach(PqOracles.stashIvfTree)
        idx.queryByIds(Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 8)
          .orderBy("query_id", "rank")
      },
      None,
      lazyOracle = Some(() => PqOracles.ivfTreeSql(
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, nprobe = 8))),

    // ── exact n-gram Jaccard on a bounded sample (the precise scorer; the
    // scale path is minhash_neardup / simhash below) ─────────────────────
    QuerySpec("ngram_jaccard",
      (s, d) => Extensions.ngramJaccardPairs(
          documents(s, d).filter(col("doc_id") < 300), "text", "doc_id",
          n = 3, minJaccard = 0.0)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 300),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM sh a JOIN sh b USING (shingle)
             |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       n_inter / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
             |FROM inter
             |JOIN c ca ON ca.doc_id = id_a
             |JOIN c cb ON cb.doc_id = id_b
             |WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.0
             |ORDER BY id_a, id_b""".stripMargin)),

    // ── asymmetric containment |A∩B|/|A|: catches short-doc-quoted-in-
    // long-doc pairs that Jaccard under-scores; same inverted-index
    // join shape as ngram_jaccard ────────────────────────────────────────
    QuerySpec("ngram_containment",
      (s, d) => Extensions.ngramContainmentPairs(
          documents(s, d).filter(col("doc_id") < 300), "text", "doc_id",
          n = 3, minContainment = 0.3)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 300),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM sh a JOIN sh b USING (shingle)
             |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       n_inter / ca.n_sh AS containment_a,
             |       n_inter / cb.n_sh AS containment_b
             |FROM inter
             |JOIN c ca ON ca.doc_id = id_a
             |JOIN c cb ON cb.doc_id = id_b
             |WHERE greatest(n_inter / ca.n_sh, n_inter / cb.n_sh) >= 0.3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ── per-doc perplexity under the corpus add-one unigram LM: each
    // distinct term's ln p rounded once to integer micro-nats, per-doc
    // sums exact integer (bm25's determinism trick) — the statistical
    // quality filter of training-data curation ───────────────────────────
    QuerySpec("lm_perplexity",
      (s, d) => Extensions.lmPerplexity(documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |       FROM tk WHERE term <> '' GROUP BY 1, 2),
             |cw AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c
             |       FROM tf GROUP BY 1),
             |st AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus,
             |              count(*)::BIGINT AS v FROM cw),
             |sc AS (SELECT tf.doc_id, tf.tf,
             |              CAST(round(ln((cw.c + 1)::DOUBLE
             |                   / (st.n_corpus + st.v))
             |                   * 1000000.0) AS BIGINT) AS lp
             |       FROM tf JOIN cw USING (term) CROSS JOIN st),
             |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             |               (2 * (-CAST(sum(tf * lp) AS BIGINT))
             |                 + CAST(sum(tf) AS BIGINT))
             |                 // (2 * CAST(sum(tf) AS BIGINT)) AS xi
             |        FROM sc GROUP BY 1)
             |SELECT doc_id, n_tokens, xi / 1000000.0 AS cross_entropy,
             |       round(exp(xi / 1000000.0), 2) AS perplexity
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // ── generator/explode surface: tokens with positions (posexplode;
    // oracle via 1-based list indexing) ──────────────────────────────────
    QuerySpec("explode_tokens",
      (s, d) => documents(s, d).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(Extensions.tokens(col("text"))).as(Seq("pos", "token")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("token"))
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 50)
             |SELECT doc_id, i.range::INT AS pos, toks[i.range] AS token
             |FROM t, range(1, 100000) i
             |WHERE i.range <= len(toks)
             |ORDER BY doc_id, pos""".stripMargin)),

    // ── SimHash signatures: the SimHash64 kernel over the md5-60-bit
    // token hash both engines compute identically (the doc_fingerprints
    // playbook), so every signature bit matches DuckDB's re-derivation
    // — all-integer votes, no float boundary. ────────────────────────
    QuerySpec("simhash_signatures",
      (s, d) => Extensions.simhashSignatures(documents(s, d), "text",
          "doc_id", TokenHash.Md5_60)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |h AS (
             |  SELECT doc_id,
             |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
             |  FROM t),
             |v AS (
             |  SELECT doc_id, i.range AS i,
             |         sum(CASE WHEN (h >> i.range::INT) & 1 = 1
             |                  THEN 1 ELSE -1 END)::BIGINT AS w
             |  FROM h, range(0, 60) i GROUP BY 1, 2)
             |SELECT doc_id,
             |       sum(CASE WHEN w > 0 THEN (1::BIGINT << i::INT)
             |                ELSE 0 END)::BIGINT AS simhash
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── SimHash near-dup pairs (completes the simhash family): band the
    // 60-bit md5 signature into 4×15-bit LSH keys, self-join per band,
    // exact popcount hamming ≤ 3. The pigeonhole bound makes banding
    // LOSSLESS at maxHamming = numBands−1 — every qualifying pair shares
    // at least one unchanged band — so the whole operator (signatures,
    // band keys, candidate join, hamming filter) is deterministic and
    // DuckDB replays it bit-for-bit. ───────────────────────────────────
    QuerySpec("simhash_neardup",
      (s, d) => Extensions.simhashNearDups(documents(s, d), "text",
          "doc_id", maxHamming = 3, numBands = 4, hash = TokenHash.Md5_60)
        .orderBy("id_a", "id_b"),
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |h AS (
             |  SELECT doc_id,
             |         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
             |  FROM t),
             |v AS (
             |  SELECT doc_id, i.range AS i,
             |         sum(CASE WHEN (h >> i.range::INT) & 1 = 1
             |                  THEN 1 ELSE -1 END)::BIGINT AS w
             |  FROM h, range(0, 60) i GROUP BY 1, 2),
             |sig AS (
             |  SELECT doc_id,
             |         sum(CASE WHEN w > 0 THEN (1::BIGINT << i::INT)
             |                  ELSE 0 END)::BIGINT AS simhash
             |  FROM v GROUP BY doc_id),
             |banded AS (
             |  SELECT doc_id, simhash, b.range AS band,
             |         (simhash >> (b.range::INT * 15)) & 32767 AS bandkey
             |  FROM sig, range(0, 4) b),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             |         bit_count(xor(a.simhash, b.simhash)) AS hamming
             |  FROM banded a JOIN banded b
             |    ON a.band = b.band AND a.bandkey = b.bandkey
             |   AND a.doc_id < b.doc_id)
             |SELECT id_a, id_b, hamming::INT AS hamming
             |FROM cand WHERE hamming <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ── MinHash near-dup pairs: the MinHashSig kernel over the md5
    // family (band j = min over distinct tokens of md5_60(j + ":" +
    // token) — both engines compute it identically), so DuckDB
    // re-derives the signatures, the any-band-collision candidates,
    // AND the exact Jaccard rescore (string-joined, the
    // contamination_score precedent).
    // Sample-bounded like ngram_jaccard: this synthetic corpus draws from
    // a tiny vocabulary, so nearly ALL pairs collide at Jaccard 0.5 and
    // the join degenerates to all-pairs distance scoring — a corpus
    // artifact, not an operator property. ───────────────────────────────
    QuerySpec("minhash_neardup",
      (s, d) => Extensions.minhashNearDups(
          documents(s, d).filter(col("doc_id") < 300), "text", "doc_id",
          maxJaccardDist = 0.3, numHashTables = 3, hash = TokenHash.Md5_60)
        .select(col("id_a"), col("id_b"), round(col("jaccard_dist"), 6)
          .as("jaccard_dist"))
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (
             |  SELECT doc_id,
             |         list_distinct(list_filter(string_split(lower(text),
             |           ' '), x -> x <> '')) AS toks
             |  FROM documents WHERE doc_id < 300),
             |nz AS (SELECT * FROM d WHERE len(toks) > 0),
             |t AS (SELECT doc_id, unnest(toks) AS tok FROM nz),
             |h AS (
             |  SELECT doc_id, j.range AS band,
             |         min(('0x' || substr(md5(j.range::VARCHAR || ':' ||
             |           tok), 1, 15))::BIGINT) AS h
             |  FROM t, range(0, 3) j GROUP BY 1, 2),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM h a JOIN h b
             |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
             |cnt AS (SELECT doc_id, len(toks)::BIGINT AS n FROM nz),
             |inter AS (
             |  SELECT c.id_a, c.id_b, count(*)::BIGINT AS ni
             |  FROM cand c
             |  JOIN t ta ON ta.doc_id = c.id_a
             |  JOIN t tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
             |  GROUP BY 1, 2),
             |jd AS (
             |  SELECT id_a, id_b,
             |         1.0 - inter.ni / (na.n + nb.n - inter.ni) AS jd
             |  FROM inter
             |  JOIN cnt na ON na.doc_id = inter.id_a
             |  JOIN cnt nb ON nb.doc_id = inter.id_b)
             |SELECT id_a, id_b, round(jd, 6) AS jaccard_dist
             |FROM jd WHERE jd <= 0.3 ORDER BY id_a, id_b""".stripMargin)),

    // ── embedding-cosine near-dup pairs (exact all-pairs ground truth
    // for the ANN-bucketed candidate pipeline) ───────────────────────────
    QuerySpec("cosine_neardup",
      (s, d) => Extensions.cosineNearDups(
          embeddings(s, d).filter(col("vec_id") < 500), "embedding",
          "vec_id", minCosine = 0.35)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
             |  WHERE vec_id < 500),
             |p AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         round(CASE WHEN list_dot_product(a.emb, a.emb) = 0
             |                      OR list_dot_product(b.emb, b.emb) = 0 THEN 0
             |               ELSE list_dot_product(a.emb, b.emb)
             |                    / (sqrt(list_dot_product(a.emb, a.emb))
             |                     * sqrt(list_dot_product(b.emb, b.emb)))
             |               END, 6) AS cosine_sim
             |  FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id)
             |SELECT id_a, id_b, cosine_sim FROM p
             |WHERE cosine_sim >= 0.35 ORDER BY id_a, id_b""".stripMargin)),

    // ── the SCALE PATH for embedding near-dup, oracle-checked against
    // the same all-pairs SQL: angular KMeans blocking + triangle-
    // inequality cell-pair pruning gives recall exactly 1 by
    // construction (see cosineNearDupsBlocked scaladoc), so the plan
    // that never materializes the global cross join must reproduce the
    // exact answer bit-for-bit ─────────────────────────────────────────
    QuerySpec("cosine_neardup_blocked",
      (s, d) => Extensions.cosineNearDupsBlocked(
          embeddings(s, d).filter(col("vec_id") < 500), "embedding",
          "vec_id", minCosine = 0.35, nCells = 16)
        .orderBy("id_a", "id_b"),
      Some("""WITH e AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
             |  WHERE vec_id < 500),
             |p AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         round(CASE WHEN list_dot_product(a.emb, a.emb) = 0
             |                      OR list_dot_product(b.emb, b.emb) = 0 THEN 0
             |               ELSE list_dot_product(a.emb, b.emb)
             |                    / (sqrt(list_dot_product(a.emb, a.emb))
             |                     * sqrt(list_dot_product(b.emb, b.emb)))
             |               END, 6) AS cosine_sim
             |  FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id)
             |SELECT id_a, id_b, cosine_sim FROM p
             |WHERE cosine_sim >= 0.35 ORDER BY id_a, id_b""".stripMargin)),

    // ── bottom-k shingle-hash fingerprints (winnowing-style sketch).
    // ORACLE-exact since r11: the catalog form hashes shingles with the
    // md5-60-bit hash both engines compute identically (the hash_split
    // playbook), so the k-smallest-distinct set matches bit-for-bit;
    // the xxhash64 production default stays spec-covered. The array is
    // emitted concat_ws'd so the driver comparator can hash it ───────────
    QuerySpec("doc_fingerprints",
      (s, d) => Extensions.fingerprintBottomK(documents(s, d), "text",
          "doc_id", n = 3, k = 8, hashOf = Extensions.md5Hash60)
        .select(col("doc_id"),
          concat_ws(",", col("fingerprint")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |h AS (
             |  SELECT DISTINCT doc_id,
             |         ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
             |  FROM sh)
             |SELECT doc_id,
             |       array_to_string(list_sort(list(h))[1:8], ',') AS fingerprint
             |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── higher-order array functions (lambda filter/transform — the
    // codegen'd alternative to UDFs for per-row collection work) ─────────
    QuerySpec("hof_funcs",
      (s, d) => {
        val toks = split(lower(col("text")), " ")
        documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id"),
            size(filter(toks, t => length(t) > 4)).as("n_long_tokens"),
            (size(filter(toks, t => length(t) > 8)) > 0).cast("int")
              .as("has_very_long"),
            aggregate(transform(toks, t => length(t).cast("long")),
              lit(0L), (acc, x) => acc + x).as("total_chars"),
            upper(element_at(toks, 1)).as("first_upper"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 100)
             |SELECT doc_id,
             |       len(list_filter(toks, x -> length(x) > 4))::INT
             |         AS n_long_tokens,
             |       (len(list_filter(toks, x -> length(x) > 8)) > 0)::INT
             |         AS has_very_long,
             |       list_sum(list_transform(toks, x -> length(x)))::BIGINT
             |         AS total_chars,
             |       upper(toks[1]) AS first_upper
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ── token counting: whitespace + BPE-ish regex pieces (letters /
    // digits / single punct — identical under Java regex and RE2) ────────
    QuerySpec("token_counts",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).as("bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       len(string_split(text, ' '))::INT AS ws_tokens,
             |       len(regexp_extract_all(text,
             |           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))::INT AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── PII scrubbing: email/phone/digit-run redaction (synthetic PII is
    // appended so the patterns actually fire; DuckDB needs the 'g' flag
    // to match Spark's replace-all semantics) ────────────────────────────
    QuerySpec("pii_scrub",
      (s, d) => {
        val withPii = documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or 555-123-4567 ref 1234567890123"))
              .as("text"))
        Extensions.piiScrub(withPii, "text", "doc_id")
          .select("doc_id", "text_scrubbed", "chars_redacted")
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id,
             |         text || ' contact user' || doc_id ||
             |           '@example.com or 555-123-4567 ref 1234567890123'
             |           AS text
             |  FROM documents WHERE doc_id < 200),
             |s AS (
             |  SELECT doc_id, text,
             |         regexp_replace(regexp_replace(regexp_replace(text,
             |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |           '<EMAIL>', 'g'),
             |           '[0-9]{3}[- ][0-9]{3}[- ]?[0-9]{4}', '<PHONE>', 'g'),
             |           '[0-9]{9,}', '<NUM>', 'g') AS text_scrubbed
             |  FROM w)
             |SELECT doc_id, text_scrubbed,
             |       (length(text) - length(text_scrubbed))::INT
             |         AS chars_redacted
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ── eval-set decontamination: flag train docs sharing ≥1 word 8-gram
    // with the eval split (doc_id < 100 plays the eval set). Spark joins
    // on xxhash64(shingle); the oracle joins on the shingle string —
    // identical up to a 2^-64 collision ──────────────────────────────────
    QuerySpec("decontamination",
      (s, d) => {
        val docs0 = documents(s, d)
        Extensions.contaminationFlags(
            docs0.filter(col("doc_id") >= 100),
            docs0.filter(col("doc_id") < 100),
            "text", "doc_id", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id >= 100),
             |ev AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 100),
             |trs AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM tr, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |evs AS (
             |  SELECT DISTINCT array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM ev, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |c AS (
             |  SELECT DISTINCT doc_id FROM trs WHERE sh IN (SELECT sh FROM evs))
             |SELECT d.doc_id,
             |       (c.doc_id IS NOT NULL)::INT AS contaminated
             |FROM documents d LEFT JOIN c USING (doc_id)
             |WHERE d.doc_id >= 100 ORDER BY d.doc_id""".stripMargin)),

    // ── repetition stats: distinct-vs-total trigram counts + ratio (the
    // boilerplate/template detector); docs with <3 tokens have no
    // trigrams and drop out on both engines ──────────────────────────────
    QuerySpec("repetition_stats",
      (s, d) => Extensions.repetitionStats(documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, array_to_string(toks[i.range:i.range+2], ' ') AS sh
             |  FROM t, range(1, 100000) i WHERE i.range <= len(toks) - 2)
             |SELECT doc_id, count(*) AS total_ngrams,
             |       count(DISTINCT sh) AS distinct_ngrams,
             |       round(1.0 - count(DISTINCT sh) / count(*), 6)
             |         AS repetition_ratio
             |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── per-document top-k terms by TRUE tf·idf (tf·ln(N/df)); the score
    // is rounded to 6 decimals BEFORE ranking on both engines, so a
    // last-ulp ln() divergence can neither flip a rank nor a value (see
    // Extensions.tfidfTopTerms). k interpolated so Spark and oracle
    // cannot drift ─────────────────────────────────────────────────────
    QuerySpec("tfidf_top_terms",
      (s, d) => Extensions.tfidfTopTerms(documents(s, d), "text", "doc_id",
          k = TfidfK)
        .orderBy("doc_id", "term_rank"),
      Some(s"""WITH tk AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
             |       FROM tk WHERE term <> '' GROUP BY 1, 2),
             |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tf),
             |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |         round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
             |       FROM tf JOIN df USING (term) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |          ORDER BY tfidf DESC, term) AS term_rank
             |      FROM sc)
             |SELECT doc_id, term, tf, df, tfidf, term_rank::INT AS term_rank
             |FROM r WHERE term_rank <= $TfidfK
             |ORDER BY doc_id, term_rank""".stripMargin)),

    // ── BM25 scored retrieval: per-term contributions in integer
    // micro-units, exact integer sum, single final division (see
    // Extensions.bm25TopK) — the text twin of cosine_topk ────────────────
    QuerySpec("bm25_topk",
      (s, d) => {
        import s.implicits._
        Extensions.bm25TopK(documents(s, d), "text", "doc_id",
          Bm25Queries.toDF("query_id", "query_text"), "query_text",
          "query_id", k = Bm25K)
          .orderBy("query_id", "rank")
      },
      Some(bm25OracleSql(""))),

    // ── BM25 through the PERSISTED index after a TAKE-DOWN DELETE
    // (r17): build + save a TextIndex, commit a delete of doc_id < 25,
    // load, query. The deleted docs leave the RESULT and the
    // STATISTICS exactly — n_docs shifts every term's idf, sum_dl
    // shifts every fTf, and each probed term's df is counted over the
    // surviving postings — so the scores hash-match a twin
    // computed over the surviving corpus alone. This is never a
    // vacuous check: deleting ANY present doc moves every bm25 value
    // in the output. The vector-side twin is semantic_dedup_delete;
    // together the take-down path is oracle-checked on both retrieval
    // branches ──────────────────────────────────────────────────────────
    QuerySpec("bm25_delete",
      (s, d) => {
        import s.implicits._
        val dir = tempDir("graft-bm25-del")
        TextIndex.build(documents(s, d), "text", "doc_id", nBuckets = 16)
          .save(s"$dir/idx")
        TextIndex.delete(s, s"$dir/idx",
          documents(s, d).filter(col("doc_id") < 25).select("doc_id"),
          "doc_id", "take-down-1")
        TextIndex.load(s, s"$dir/idx")
          .query(Bm25Queries.toDF("query_id", "query_text"),
            "query_text", "query_id", k = Bm25K)
          .orderBy("query_id", "rank")
      },
      Some(bm25OracleSql(" WHERE doc_id >= 25"))),

    // ── hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // list and the cosine dense list per query document (shared
    // doc/vec id space; self excluded from both branches). Branch
    // ranks are exact (integer micro-unit BM25; round-6 cosine), the
    // 1/(60+rank) terms are IEEE divisions of exact small ints summed
    // in a fixed order, so the fused ranking cannot drift — see
    // Extensions.rrfFusion ─────────────────────────────────────────────
    QuerySpec("rrf_fusion",
      (s, d) => Extensions.rrfFusion(documents(s, d), "text", "doc_id",
          embeddings(s, d), "embedding", "vec_id",
          queryIds = RrfQueryIds, kBranch = RrfKBranch, k = RrfFinalK,
          rrfK = RrfConst)
        .orderBy("query_id", "rank"),
      Some(rrfOracleSql)),

    // ── the SAME hybrid search through the PERSISTED production path:
    // build + save a TextIndex (term-hash bucket partitions) and an
    // IvfIndex (cell partitions), load both back, and answer from the
    // saved layouts — both branch scans file-prune to query-derived
    // literal partition sets. Under exhaustive dense probes
    // (nprobe = nCells) the dense branch is exact, so the composed
    // result equals rrf_fusion bit-for-bit (HybridIndexSpec law) and
    // the one oracle serves both. Timed cost here includes the index
    // BUILD — the build-once/query-many amortization is the point of
    // the persisted form, and hybrid_topk_pruned below measures the
    // production pruned probe on the same layout. ───────────────────────
    QuerySpec("hybrid_topk",
      (s, d) => {
        val (text, ivf) = hybridIndexes(s, d, HybridNCells)
        HybridIndex.queryByIds(text, ivf,
            documents(s, d), "text", RrfQueryIds,
            kBranch = RrfKBranch, k = RrfFinalK, nprobe = HybridNCells,
            rrfK = RrfConst)
          .orderBy("query_id", "rank")
      },
      Some(rrfOracleSql)),

    // ── the pruned production configuration of the same saved layout
    // (nprobe < nCells): the lexical branch stays exact, the dense
    // branch inherits the IVF recall trade. ORACLE-exact since r13:
    // the saved quantizer's centroids are driver-known literals, so
    // the twin replays the assignment (L2 argmin — the r13 IVF rule),
    // the cosine probe, and the cell-restricted rescore of THIS run's
    // cached index; recall/exactness laws stay in HybridIndexSpec ──────
    QuerySpec("hybrid_topk_pruned",
      (s, d) => {
        val (text, ivf) = hybridIndexes(s, d, HybridNCells)
        PqOracles.stashHybridIvf(ivf.centroidArrays)
        HybridIndex.queryByIds(text, ivf,
            documents(s, d), "text", RrfQueryIds,
            kBranch = RrfKBranch, k = RrfFinalK, nprobe = 2,
            rrfK = RrfConst)
          .orderBy("query_id", "rank")
      },
      None,
      lazyOracle = Some(() => PqOracles.hybridIvfCents
        .map(c => rrfOracleSqlPruned(c, nprobe = 2)))),

    // ── EXTERNAL-query hybrid serving (r18): the search-box shape —
    // (id, text, vector) queries that are NOT corpus members, fused
    // over the same persisted layouts with NO self-exclusion (an
    // external query has no corpus row to exclude; a duplicate-text
    // query surfaces its stored twin at rank 1 on both branches).
    // Query ids offset by 10^6 out of the corpus id space — the
    // documented collision contract (IvfIndex.query's shared plan
    // carries the corpus-member self rule). The twin is the shared
    // RRF template with the exclusions dropped and the id offset
    // applied — same lexical arithmetic, same fusion tail. ─────────────
    QuerySpec("hybrid_query_topk",
      (s, d) => {
        val (text, ivf) = hybridIndexes(s, d, HybridNCells)
        val q = documents(s, d)
          .filter(col("doc_id").isin(RrfQueryIds: _*))
          .join(embeddings(s, d)
            .select(col("vec_id").as("doc_id"), col("embedding")),
            "doc_id")
          .select((col("doc_id") + lit(1000000L)).as("qid"),
            col("text").as("qtext"), col("embedding").as("qvec"))
        HybridIndex.query(text, ivf, q, "qid", "qtext", "qvec",
            kBranch = RrfKBranch, k = RrfFinalK, nprobe = HybridNCells,
            rrfK = RrfConst)
          .orderBy("query_id", "rank")
      },
      Some(rrfOracleSqlWith(
        denseFrom = "FROM embeddings e CROSS JOIN qe",
        postQeCtes = "", qidOffset = 1000000L, selfExclude = false))),

    // ── the hybrid serving shape at TREE scale (VERDICT r17 #5):
    // the same persisted lexical branch fused with a dense branch
    // whose IvfIndex was built PAST the tree threshold — save/load
    // round-trips the sidecar, and the dense probes run the two-level
    // rule + self-cell-first prepend (the ivf_tree_topk machinery)
    // instead of the flat centroid scan. The twin routes the shared
    // RRF template's dense branch through the loaded sidecar's
    // literal floats — capture-replay, bit-exact; the lexical branch
    // and the fusion tail are byte-shared with hybrid_topk's. ─────────
    QuerySpec("hybrid_tree_topk",
      (s, d) => {
        val (text, ivf) = hybridIndexes(s, d, HybridTreeNCells)
        ivf.treeQuantizer.foreach(PqOracles.stashHybridTree)
        HybridIndex.queryByIds(text, ivf,
            documents(s, d), "text", RrfQueryIds,
            kBranch = RrfKBranch, k = RrfFinalK,
            nprobe = HybridTreeNProbe, rrfK = RrfConst)
          .orderBy("query_id", "rank")
      },
      None,
      lazyOracle = Some(() => PqOracles.hybridTreeFit
        .map(tq => rrfOracleSqlTree(tq, nprobe = HybridTreeNProbe)))),

    // ── bigram LM quality stats: corpus-frequency profile of each
    // document's bigrams, all-integer + long/long division → exact;
    // rareBelow interpolated so Spark and oracle cannot drift ────────────
    QuerySpec("bigram_stats",
      (s, d) => Extensions.bigramStats(documents(s, d), "text", "doc_id",
          rareBelow = BigramRareBelow)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |         list_filter(string_split(lower(text), ' '),
             |                     x -> x <> '') AS toks
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
             |  FROM t),
             |freq AS (SELECT bigram, count(*)::BIGINT AS n FROM bg GROUP BY 1),
             |j AS (SELECT bg.doc_id, bg.bigram, freq.n
             |      FROM bg JOIN freq USING (bigram))
             |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             |       count(DISTINCT bigram)::BIGINT AS n_distinct,
             |       sum(n) / count(*) AS avg_bigram_freq,
             |       sum(CASE WHEN n < $BigramRareBelow THEN 1 ELSE 0 END)::BIGINT
             |         AS n_rare
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── DSIR importance weights (Xie et al. 2023): hashed
    // unigram+bigram bucket models for target (lang='en') vs the raw
    // pool, add-1 smoothed, per-feature log-probs micro-nat quantized
    // (the lm_perplexity doctrine) — the per-doc log-weight is exact
    // integer algebra over DuckDB-reproducible md5 bucket ids. Both
    // count tables are bounded at 4096 rows at any corpus size. ─────────
    QuerySpec("dsir_weights",
      (s, d) => Extensions.dsirWeights(documents(s, d), "text", "doc_id",
          isTarget = col("lang") === "en", buckets = DsirBuckets)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split(lower(text), ' '),
             |                     x -> x <> '') AS toks
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, lang,
             |         unnest(list_concat(toks,
             |           list_transform(range(1, len(toks)),
             |             i -> toks[i] || ' ' || toks[i + 1]))) AS feat
             |  FROM t),
             |fb AS (
             |  SELECT doc_id, lang,
             |         ('0x' || substr(md5(feat), 1, 15))::BIGINT
             |           % $DsirBuckets AS f
             |  FROM f),
             |docf AS (SELECT doc_id, f, count(*)::BIGINT AS n
             |         FROM fb GROUP BY 1, 2),
             |rawc AS (SELECT f, sum(n)::BIGINT AS cr FROM docf GROUP BY 1),
             |tgtc AS (SELECT f, count(*)::BIGINT AS ct
             |         FROM fb WHERE lang = 'en' GROUP BY 1),
             |tot AS (SELECT (SELECT sum(cr) FROM rawc) AS nr,
             |               (SELECT sum(ct) FROM tgtc) AS nt),
             |lp AS (
             |  SELECT rawc.f,
             |         CAST(round(ln((coalesce(ct, 0) + 1)::DOUBLE
             |           / (nt + $DsirBuckets)) * 1000000.0) AS BIGINT)
             |           AS lpt,
             |         CAST(round(ln((cr + 1)::DOUBLE
             |           / (nr + $DsirBuckets)) * 1000000.0) AS BIGINT)
             |           AS lpr
             |  FROM rawc LEFT JOIN tgtc USING (f) CROSS JOIN tot)
             |SELECT doc_id, sum(n)::BIGINT AS n_feats,
             |       CAST(sum(n * (lpt - lpr)) AS BIGINT) / 1000000.0
             |         AS log_weight
             |FROM docf JOIN lp USING (f)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── learned quality filter (VERDICT r12 #5): LogisticRegression on
    // gopher_rules weak labels over the dsir hashed-n-gram stream; the
    // SCORING pass is an exact integer dot product with the
    // micro-quantized fitted weights — ORACLE-exact via the
    // driver-fit-literal playbook (the fit itself is spec-covered) ──────
    QuerySpec("quality_score_lr",
      (s, d) => {
        val out = Extensions.qualityScoreLr(documents(s, d), "text",
            "doc_id", buckets = QualityLrBuckets)
          .orderBy("doc_id")
        Option(Extensions.lastQualityLrFit.get())
          .foreach(PqOracles.stashQualityLr)
        out
      },
      None,
      lazyOracle = Some(() => PqOracles.qualityLrSql(QualityLrBuckets))),

    // ── the full curation pipeline composed end-to-end (dedup → quality
    // filter → PII scrub → deterministic split) — ONE shuffle total;
    // the oracle replays every stage as CTEs ─────────────────────────────
    QuerySpec("corpus_curation",
      (s, d) => Extensions.curateCorpus(documents(s, d), "text", "doc_id",
          minQuality = 0.3, keepBuckets = 205)
        .orderBy("doc_id"),
      Some("""WITH dd AS (
             |  SELECT doc_id, text,
             |         row_number() OVER (PARTITION BY text ORDER BY doc_id)
             |           AS rn
             |  FROM documents),
             |u AS (SELECT doc_id, text FROM dd WHERE rn = 1),
             |t AS (
             |  SELECT doc_id, text, length(text) AS char_count,
             |         length(replace(text, ' ', '')) AS no_space,
             |         ' ' || lower(text) || ' ' AS padded
             |  FROM u),
             |v AS (
             |  SELECT doc_id, text, char_count, no_space,
             |         char_count - no_space + 1 AS token_count,
             |         no_space - length(replace(replace(replace(replace(
             |           replace(text, ' ', ''), '.', ''), ',', ''), '!', ''),
             |           '?', '')) AS punct_count
             |  FROM t),
             |w AS (
             |  SELECT *, round(no_space / token_count, 6) AS avg_token_len
             |  FROM v),
             |q AS (
             |  SELECT doc_id, text, token_count,
             |         round(least(1.0, token_count / 100.0) * 0.5
             |             + (1.0 - least(1.0, punct_count
             |                 / greatest(token_count, 1))) * 0.3
             |             + least(1.0, avg_token_len / 10.0) * 0.2, 6)
             |           AS quality_score
             |  FROM w),
             |k AS (SELECT * FROM q WHERE quality_score >= 0.3),
             |sc AS (
             |  SELECT doc_id, token_count, quality_score,
             |         length(text) AS orig_len,
             |         regexp_replace(regexp_replace(regexp_replace(text,
             |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |           '<EMAIL>', 'g'),
             |           '[0-9]{3}[- ][0-9]{3}[- ]?[0-9]{4}', '<PHONE>', 'g'),
             |           '[0-9]{9,}', '<NUM>', 'g') AS text_scrubbed
             |  FROM k)
             |SELECT doc_id, text_scrubbed,
             |       (orig_len - length(text_scrubbed))::INT AS chars_redacted,
             |       token_count::INT AS token_count, quality_score,
             |       substr(md5(doc_id::VARCHAR), 1, 2) AS split_bucket,
             |       (substr(md5(doc_id::VARCHAR), 1, 2) < 'cd')::INT AS is_train
             |FROM sc ORDER BY doc_id""".stripMargin)),

    // ── HTML/boilerplate text extraction (VERDICT r14 #3): the
    // crawl-pipeline first stage. The corpus is documents.text wrapped
    // in deterministic chrome (anchor-heavy nav/aside/footer around
    // 12-word <p> payload blocks — Extensions.htmlWrap, the
    // media-synthesis precedent); extraction is the jusText-class
    // link-density block filter as ONE codegen'd regexp/HOF scan, and
    // the wrapper's reversibility lets the entry assert payload
    // recovery EXACTLY (`exact` = 1 on every row). Oracle replays both
    // the wrap and the heuristic in DuckDB (RE2-safe patterns: no
    // backreferences inside patterns, bounded repetition only) ──────────
    QuerySpec("html_extract",
      (s, d) => Extensions.htmlExtract(
          documents(s, d).select(col("doc_id"), col("text"),
            Extensions.htmlWrap(col("text")).as("html")),
          "html", "doc_id")
        .select(col("doc_id"), col("text_extracted"), col("n_blocks"),
          col("n_kept"),
          (col("text_extracted") === col("text")).cast("int").as("exact"))
        .orderBy("doc_id"),
      Some("""WITH h AS (
             |  SELECT doc_id, text,
             |         '<html><head><title>doc</title></head><body>'
             |         || '<nav><a href="/">home</a> <a href="/docs">docs</a> '
             |         || '<a href="/api">api</a></nav><p>'
             |         || regexp_replace(text, '(\S+( \S+){11}) ',
             |              '\1</p><p>', 'g')
             |         || '</p><aside><a href="/r1">related one</a> '
             |         || '<a href="/r2">related two</a> promoted</aside>'
             |         || '<footer><a href="/tos">terms</a> '
             |         || '<a href="/privacy">privacy</a> '
             |         || '<a href="/contact">contact</a> (c) corp</footer>'
             |         || '</body></html>' AS html
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, text,
             |         regexp_extract_all(html,
             |           '(?is)<(?:p|nav|aside|footer|header|li|h1|h2|h3)\b[^>]*>' ||
             |           '.*?</(?:p|nav|aside|footer|header|li|h1|h2|h3)\s*>')
             |           AS blocks
             |  FROM h),
             |k AS (
             |  SELECT doc_id, text, blocks,
             |         list_filter(blocks, x ->
             |           coalesce(list_sum(list_transform(
             |             regexp_extract_all(x, '(?is)<a\b[^>]*>([^<]*)</a\s*>', 1),
             |             y -> length(y))), 0)
             |             <= 0.5 * greatest(length(
             |                  regexp_replace(x, '<[^>]*>', '', 'g')), 1)
             |           AND length(regexp_replace(x, '<[^>]*>', '', 'g'))
             |             > 0) AS kept
             |  FROM b),
             |e AS (
             |  SELECT doc_id, text, blocks, kept,
             |         array_to_string(list_transform(kept,
             |           x -> regexp_replace(x, '<[^>]*>', '', 'g')), ' ')
             |           AS text_extracted
             |  FROM k)
             |SELECT doc_id, text_extracted,
             |       len(blocks)::INT AS n_blocks, len(kept)::INT AS n_kept,
             |       (text_extracted = text)::INT AS exact
             |FROM e ORDER BY doc_id""".stripMargin)),

    // ── exact corpus heavy hitters: top-50 tokens by document frequency.
    // Scale shape: explode → partial-agg count (map-side combine) → one
    // shuffle on the token → TakeOrdered for the top-k (no global sort).
    QuerySpec("top_tokens",
      (s, d) => documents(s, d)
        .select(explode(Extensions.tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(50),
      Some("""SELECT token, count(*) AS n
             |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
             |      FROM documents)
             |GROUP BY token
             |ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    // ── count-min-sketch token frequencies: the sketch is built from
    // md5-60-bit row hashes both engines compute identically (the
    // simhash playbook) — the counter table is one bounded groupBy,
    // estimates are min-of-depth exact integer counts, so DuckDB
    // replays the whole sketch. ────────────────────────────────────────
    QuerySpec("token_freq_cms",
      (s, d) => Extensions.cmsEstimates(documents(s, d), "text",
          Seq("the", "of", "and", "data", "model"),
          depth = CmsDepth, width = CmsWidth)
        .orderBy("token"),
      Some(s"""WITH tok AS (
             |  SELECT unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |p AS (
             |  SELECT j.range AS j,
             |         ('0x' || substr(md5(j.range::VARCHAR || ':' || tok),
             |            1, 15))::BIGINT % $CmsWidth AS pos
             |  FROM tok, range(0, $CmsDepth) j),
             |c AS (SELECT j, pos, count(*)::BIGINT AS n
             |      FROM p GROUP BY 1, 2),
             |q AS (SELECT unnest(['the', 'of', 'and', 'data', 'model'])
             |        AS token),
             |qp AS (
             |  SELECT token, j.range AS j,
             |         ('0x' || substr(md5(j.range::VARCHAR || ':' || token),
             |            1, 15))::BIGINT % $CmsWidth AS pos
             |  FROM q, range(0, $CmsDepth) j)
             |SELECT token, min(coalesce(c.n, 0))::BIGINT AS est_count
             |FROM qp LEFT JOIN c USING (j, pos)
             |GROUP BY token ORDER BY token""".stripMargin)),

    // ── HyperLogLog distinct estimate, ORACLE-exact: own md5-hash
    // registers (p=8, m=256 — one bounded groupBy, ≤256 rows per group
    // at ANY corpus size) + a harmonic-mean estimator kept in exact
    // integer algebra (S = Σ 2^(53−rho) as BIGINT, one decimal(38,0)
    // integral division by the shared micro-unit ALPHA numerator), so
    // DuckDB replays registers AND estimate to the last integer.
    // Spark's native approx_count_distinct (engine-internal HLL++
    // binary) stays the rows-only `approx_distinct` entry; the
    // register-merge law lives in ExtensionsSpec. ───────────────────────
    QuerySpec("hll_distinct",
      (s, d) => Extensions.hllDistinct(
          lineitem(s, d).select("l_returnflag", "l_partkey"),
          "l_returnflag", "l_partkey")
        .orderBy("l_returnflag"),
      Some(s"""WITH h AS (
             |  SELECT l_returnflag,
             |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))
             |           ::BIGINT AS h
             |  FROM lineitem),
             |r AS (
             |  SELECT l_returnflag, h & 255 AS bucket,
             |         max(CASE WHEN h >> 8 = 0 THEN 53
             |                  ELSE 53 - length(bin(h >> 8)) END) AS rho
             |  FROM h GROUP BY 1, 2),
             |s AS (
             |  SELECT l_returnflag,
             |         sum((1::HUGEINT << (53 - rho)))
             |           + (256 - count(*)) * (1::HUGEINT << 53) AS s
             |  FROM r GROUP BY 1)
             |SELECT l_returnflag,
             |       CAST(${Extensions.HllNumerator}::HUGEINT
             |         // (1000000::HUGEINT * s) AS BIGINT) AS est_distinct
             |FROM s ORDER BY l_returnflag""".stripMargin)),

    // ── deterministic stratified sample: exactly ceil(10%) per event_type,
    // chosen by md5 order (reproducible, balanced — unlike seeded
    // approximate sampleBy) ──────────────────────────────────────────────
    QuerySpec("stratified_sample",
      (s, d) => Extensions.stratifiedSample(
          events(s, d).select("event_id", "event_type"),
          "event_type", "event_id", fraction = 0.1)
        .orderBy("event_id"),
      Some("""WITH t AS (
             |  SELECT event_id, event_type,
             |         row_number() OVER (PARTITION BY event_type
             |           ORDER BY md5(event_id::VARCHAR), event_id) AS rn,
             |         count(*) OVER (PARTITION BY event_type) AS n
             |  FROM events)
             |SELECT event_id, event_type FROM t
             |WHERE rn <= ceil(n * 0.1) ORDER BY event_id""".stripMargin)),

    // ── corpus mixing: per-source target fractions (data mixing
    // weights), deterministic md5-rank selection, default for the tail ──
    QuerySpec("corpus_mixing",
      (s, d) => Extensions.mixCorpus(
          documents(s, d).select("doc_id", "source"),
          "source", "doc_id",
          Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25),
          defaultFraction = 0.1)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source
             |           ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
             |         count(*) OVER (PARTITION BY source) AS n
             |  FROM documents)
             |SELECT doc_id, source FROM t
             |WHERE rn <= ceil(n * (CASE source
             |        WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.5
             |        WHEN 'src2' THEN 0.25 ELSE 0.1 END))
             |ORDER BY doc_id""".stripMargin)),

    // ── concat-then-chunk sequence packing: global token offsets via the
    // two-level prefix sum (never a single-partition window), fixed
    // 512-token training windows. Oracle is the single-window cumsum. ────
    QuerySpec("token_chunking",
      (s, d) => Extensions.chunkForTraining(
          documents(s, d).select(col("doc_id"),
            (length(col("text"))
              - length(expr("replace(text, ' ', '')")) + 1).as("n_tokens")),
          "doc_id", "n_tokens", ctxLen = 512)
        .select("doc_id", "n_tokens", "start_off", "first_chunk",
          "last_chunk")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         (length(text) - length(replace(text, ' ', '')) + 1) AS n
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, n,
             |         CAST(sum(n) OVER (ORDER BY doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           - n AS BIGINT) AS start_off
             |  FROM t)
             |SELECT doc_id, n::INT AS n_tokens, start_off,
             |       start_off // 512 AS first_chunk,
             |       (start_off + n - 1) // 512 AS last_chunk
             |FROM o ORDER BY doc_id""".stripMargin)),

    // ── deterministic hash split (reproducible train/holdout independent
    // of partitioning — md5 buckets, exact on both engines) ──────────────
    QuerySpec("hash_split",
      (s, d) => Extensions.hashSplit(
          documents(s, d).select("doc_id"), "doc_id", keepBuckets = 205)
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |       substr(md5(doc_id::VARCHAR), 1, 2) AS split_bucket,
             |       (substr(md5(doc_id::VARCHAR), 1, 2) < 'cd')::INT AS is_train
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── full dedup: near-dup pairs → connected components → survivors.
    // ORACLE-exact since r11 (VERDICT r10): the catalog form derives its
    // pairs from the deterministic exact n-gram Jaccard scorer (the
    // cc_components precedent) instead of banded SimHash, so DuckDB can
    // re-derive the identical pair set from shingle SQL and run the same
    // min-label closure via WITH RECURSIVE — pairs, components, AND the
    // min-id keep flag all checked end to end. The SimHash-banded form
    // (the at-scale candidate generator) stays spec-covered.
    // (sample-bounded like the other fuzzy-dedup queries: the tiny-
    // vocabulary synthetic corpus is pathologically self-similar)
    QuerySpec("dedup_clusters",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 600)
        Extensions.dedupClustersFromPairs(docs, "doc_id",
            Extensions.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
              minJaccard = 0.6))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 600),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM sh a JOIN sh b USING (shingle)
             |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN c ca ON ca.doc_id = id_a
             |  JOIN c cb ON cb.doc_id = id_b
             |  WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.6),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION ALL
             |  SELECT id_b AS src, id_a AS dst FROM pairs),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM t
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
             |SELECT id AS doc_id, min(r) AS component,
             |       (id = min(r))::INT AS keep
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // ── one-row corpus dataset card: volume, exact-dup mass (an
    // identity — n_docs − distinct texts, no pair enumeration), lang
    // mix entropy, mean quality in exact micro-units ────────────────────
    QuerySpec("corpus_report",
      (s, d) => Extensions.corpusReport(documents(s, d), "text", "lang"),
      Some("""WITH g AS (
             |  SELECT text, lang, count(*)::BIGINT AS n
             |  FROM documents GROUP BY 1, 2),
             |st AS (
             |  SELECT text, lang, n,
             |         length(text) AS cc,
             |         length(replace(text, ' ', '')) AS nosp
             |  FROM g),
             |sx AS (
             |  SELECT text, lang, n, cc, nosp,
             |         cc - nosp + 1 AS tc,
             |         nosp - length(replace(replace(replace(replace(
             |           replace(text, ' ', ''), '.', ''), ',', ''),
             |           '!', ''), '?', '')) AS punct
             |  FROM st),
             |sq AS (
             |  SELECT n, tc, cc,
             |         CAST(round(round(least(1.0, tc / 100.0) * 0.5
             |           + (1.0 - least(1.0, punct::DOUBLE
             |               / greatest(tc, 1))) * 0.3
             |           + least(1.0, round(nosp::DOUBLE / tc, 6) / 10.0)
             |             * 0.2, 6) * 1000000.0) AS BIGINT) AS qm
             |  FROM sx),
             |tot AS (
             |  SELECT sum(n)::BIGINT AS n_docs,
             |         sum(n::HUGEINT * tc) AS ts,
             |         sum(n::HUGEINT * cc) AS cs,
             |         sum(n::HUGEINT * qm) AS qs
             |  FROM sq),
             |tx AS (SELECT count(*)::BIGINT AS distinct_texts
             |       FROM (SELECT text FROM g GROUP BY 1)),
             |hd AS (SELECT count(*)::BIGINT AS distinct_heads
             |       FROM (SELECT md5(array_to_string(
             |               string_split(lower(text), ' ')[1:16], ' '))
             |             FROM g GROUP BY 1)),
             |lg AS (
             |  SELECT count(*)::BIGINT AS n_langs,
             |         round(ln(sum(c)::DOUBLE)
             |           - sum(c::DOUBLE * ln(c::DOUBLE)) / sum(c)::DOUBLE,
             |           6) AS lang_entropy
             |  FROM (SELECT lang, sum(n)::BIGINT AS c FROM g GROUP BY 1))
             |SELECT n_docs, ts::BIGINT AS n_tokens, cs::BIGINT AS n_chars,
             |       distinct_texts,
             |       (n_docs - distinct_texts)::BIGINT AS dup_docs,
             |       round((n_docs - distinct_texts)::DOUBLE
             |             / n_docs::DOUBLE, 6) AS dup_frac,
             |       (n_docs - distinct_heads)::BIGINT AS head_dup_docs,
             |       n_langs, lang_entropy,
             |       round(qs::DOUBLE / n_docs::DOUBLE / 1000000.0, 6)
             |         AS mean_quality,
             |       round(ts::DOUBLE / n_docs::DOUBLE, 6)
             |         AS mean_doc_tokens
             |FROM tot CROSS JOIN tx CROSS JOIN hd CROSS JOIN lg""".stripMargin)),

    // ── per-source duplication profile on the 16-token HEAD
    // fingerprint (truncation variants of one page share a head even
    // when exact text differs — non-vacuous at the sf0.01 gate where
    // exact dups are absent): dup docs anywhere and cross-source
    // shared heads (the double-counting signal when sources are
    // weighted independently) ───────────────────────────────────────────
    QuerySpec("dup_by_source",
      (s, d) => Extensions.dupBySource(documents(s, d), "text", "source",
          headTokens = 16)
        .orderBy("source"),
      Some("""WITH g AS (
             |  SELECT md5(array_to_string(
             |           string_split(lower(text), ' ')[1:16], ' ')) AS text,
             |         source, count(*)::BIGINT AS n
             |  FROM documents GROUP BY 1, 2),
             |t AS (
             |  SELECT text, sum(n)::BIGINT AS nd, count(*)::BIGINT AS nsrc
             |  FROM g GROUP BY 1)
             |SELECT source, sum(n)::BIGINT AS n_docs,
             |       sum(CASE WHEN nd >= 2 THEN n ELSE 0 END)::BIGINT
             |         AS dup_docs,
             |       sum(CASE WHEN nsrc >= 2 THEN n ELSE 0 END)::BIGINT
             |         AS cross_source_docs,
             |       round(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END)::DOUBLE
             |             / sum(n)::DOUBLE, 6) AS dup_frac
             |FROM g JOIN t USING (text)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // ── leakage-safe train/eval split: the split key is the near-dup
    // COMPONENT, so a document and its near-copy always land in the
    // same split — same pair scorer and closure as dedup_clusters, the
    // oracle extends that entry's recursive CTE with cluster sizes and
    // the md5 bucket ─────────────────────────────────────────────────────
    QuerySpec("leakage_safe_split",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 600)
        Extensions.leakageSafeSplit(docs, "doc_id",
            Extensions.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
              minJaccard = 0.6), trainBuckets = 205)
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 600),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM sh a JOIN sh b USING (shingle)
             |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN c ca ON ca.doc_id = id_a
             |  JOIN c cb ON cb.doc_id = id_b
             |  WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.6),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION ALL
             |  SELECT id_b AS src, id_a AS dst FROM pairs),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM t
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id AS doc_id, min(r) AS component
             |         FROM reach GROUP BY id),
             |sz AS (SELECT component, count(*)::BIGINT AS cluster_size
             |       FROM comp GROUP BY 1)
             |SELECT doc_id, component, cluster_size,
             |       substr(md5(component::VARCHAR), 1, 2) AS split_bucket,
             |       (substr(md5(component::VARCHAR), 1, 2) < 'cd')::INT
             |         AS is_train
             |FROM comp JOIN sz USING (component)
             |ORDER BY doc_id""".stripMargin)),

    // ── per-dimension embedding QA: NaN/zero counts, micro-unit exact
    // mean/std moments, NaN-excluded min/max — ONE groupBy on ≤dim
    // keys at any corpus size ────────────────────────────────────────────
    QuerySpec("embedding_qa",
      (s, d) => Extensions.embeddingQa(embeddings(s, d), "embedding")
        .orderBy("dim"),
      Some("""WITH e AS (
             |  SELECT i.range - 1 AS dim,
             |         CAST(embedding[i.range] AS DOUBLE) AS x
             |  FROM embeddings, range(1, 100000) i
             |  WHERE i.range <= len(embedding)),
             |m AS (
             |  SELECT dim, count(*)::BIGINT AS n,
             |         sum(CASE WHEN isnan(x) THEN 1 ELSE 0 END)::BIGINT
             |           AS n_nan,
             |         sum(CASE WHEN x = 0 THEN 1 ELSE 0 END)::BIGINT
             |           AS n_zero,
             |         count(CASE WHEN NOT isnan(x) THEN 1 END)::BIGINT
             |           AS ng,
             |         sum(CASE WHEN NOT isnan(x)
             |             THEN CAST(round(x * 1000000.0) AS BIGINT) END)
             |           AS sm,
             |         sum(CASE WHEN NOT isnan(x)
             |             THEN CAST(round(x * 1000000.0) AS HUGEINT)
             |                  * CAST(round(x * 1000000.0) AS BIGINT) END)
             |           AS sm2,
             |         min(CASE WHEN NOT isnan(x) THEN x END) AS min_val,
             |         max(CASE WHEN NOT isnan(x) THEN x END) AS max_val
             |  FROM e GROUP BY 1)
             |SELECT dim::INT AS dim, n, n_nan, n_zero,
             |       CASE WHEN ng >= 1
             |         THEN round(sm::DOUBLE / ng / 1000000.0, 6) END AS mean,
             |       CASE WHEN ng >= 2
             |         THEN round(sqrt((ng::HUGEINT * sm2 - sm::HUGEINT * sm)
             |                ::DOUBLE
             |              / (ng::HUGEINT * (ng - 1))::DOUBLE)
             |              / 1000000.0, 6) END AS std,
             |       min_val, max_val
             |FROM m ORDER BY dim""".stripMargin)),

    // ── connected components PROVEN against SQL: edges from the
    // deterministic oracle-expressible ngram-Jaccard scorer (≥ 0.5), the
    // iterative min-label/pointer-jump closure on the Spark side, a
    // WITH RECURSIVE reachability fixpoint (component = min reachable
    // id) on the DuckDB side — the transitive-closure core of
    // dedup_clusters, oracle-checked end to end ─────────────────────────
    QuerySpec("cc_components",
      (s, d) => {
        val docs = documents(s, d).filter(col("doc_id") < 300)
        graft.operators.ConnectedComponents.components(
            docs.select(col("doc_id")),
            Extensions.ngramJaccardPairs(docs, "text", "doc_id", n = 3,
              minJaccard = 0.5),
            "doc_id", "id_a", "id_b")
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 300),
             |sh AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+2], ' ') AS shingle
             |  FROM t, range(1, 100000) i
             |  WHERE i.range <= len(toks) - 2),
             |c AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
             |  FROM sh a JOIN sh b USING (shingle)
             |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN c ca ON ca.doc_id = id_a
             |  JOIN c cb ON cb.doc_id = id_b
             |  WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.5),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION ALL
             |  SELECT id_b AS src, id_a AS dst FROM pairs),
             |reach(id, r) AS (
             |  SELECT doc_id, doc_id FROM t
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
             |SELECT id AS doc_id, min(r) AS component
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // ── multimodal: REAL media bytes (BufferedImage→PNG, PCM sine→WAV,
    // concat-PNG video) decoded with the JDK's own codecs (javax.imageio,
    // javax.sound.sampled) in the mapPartitions batch shape. Synthesis
    // and decode are both deterministic (StrictMath, lossless codecs) —
    // rows-only here, exact values pinned in MultimodalSpec; the feature
    // array is emitted concat_ws'd so the driver comparator can hash it ──
    QuerySpec("multimodal_features",
      (s, d) => {
        val media = Multimodal.synthesizeMedia(documents(s, d), "doc_id")
        Multimodal.extractFeatures(media)
          .toDF()
          .select(col("media_id"), col("modality"), col("n_bytes"),
            concat_ws(",",
              transform(col("features"), x => round(x, 4).cast("string")))
              .as("features"))
          .orderBy("media_id")
      },
      None),

    // ── MMR diversification of the cosine top-k (the RAG-context /
    // search-result diversifier): greedy 7·rel − 3·maxSim in exact
    // integer micro-units, every step's argmax bit-reproducible — the
    // oracle unrolls the k-step trajectory as CTE triples (see
    // mmrOracleSql; the BPE playbook). Corpus-sized work = the
    // bounded-heap candidate harvest only ────────────────────────────────
    QuerySpec("mmr_rerank",
      (s, d) => Extensions.mmrRerank(embeddings(s, d), "embedding",
          "vec_id", queryIds = Seq(0L, 1L, 2L), kBranch = 10, k = 5)
        .orderBy("query_id", "sel_rank"),
      Some(mmrOracleSql(queryIds = Seq(0L, 1L, 2L), kBranch = 10, k = 5))),

    // ── end-to-end image similarity: decode → 8×8 luminance thumbnail
    // embedding (partition-local, bytes never leave the executor) →
    // the EXISTING IVF query path over the decoded vectors. Exhaustive
    // probes make the search stage exact given the embeddings; decode
    // determinism and the embedding values are pinned in
    // MultimodalSpec, the bounded-heap plan shape in PlanSpec —
    // rows-only here (synthesized PNG bytes aren't SQL-expressible) ─────
    QuerySpec("image_similarity",
      (s, d) => {
        val media = Multimodal.synthesizeMedia(documents(s, d), "doc_id")
        val emb = Multimodal.imageEmbeddings(media).toDF()
        Extensions.annIvf(emb, "embedding", "media_id",
            queryIds = Seq(0L, 3L, 6L), k = 10, nCells = 8, nprobe = 8)
          .orderBy("query_id", "rank")
      },
      None),

    // ── end-to-end audio similarity (VERDICT r12 #4): WAV decode →
    // bounded Goertzel band-energy + envelope embedding
    // (partition-local, waveform bytes never leave the executor) →
    // the EXISTING IVF query path — the audio leg of the multimodal
    // composition point, mirroring image_similarity. Exhaustive probes
    // make the search exact given the embeddings; decode determinism
    // and frequency discrimination are pinned in MultimodalSpec —
    // rows-only here (synthesized WAV bytes aren't SQL-expressible) ─────
    QuerySpec("audio_similarity",
      (s, d) => {
        val media = Multimodal.synthesizeMedia(documents(s, d), "doc_id")
        val emb = Multimodal.audioEmbeddings(media).toDF()
        Extensions.annIvf(emb, "embedding", "media_id",
            queryIds = Seq(1L, 4L, 7L), k = 10, nCells = 8, nprobe = 8)
          .orderBy("query_id", "rank")
      },
      None),

    // ── end-to-end video similarity (VERDICT r13 #4 — the triad's
    // last leg): concat-PNG demux → sample first/mid/last frames →
    // per-frame 8×8 luminance thumbnail → temporal mean++max pooling
    // (partition-local, video bytes never leave the executor) → the
    // EXISTING IVF query path. Exhaustive probes make the search
    // exact given the embeddings; demux/pooling determinism is pinned
    // in MultimodalSpec — rows-only here (synthesized video bytes
    // aren't SQL-expressible, the image/audio precedent) ────────────────
    QuerySpec("video_similarity",
      (s, d) => {
        val media = Multimodal.synthesizeMedia(documents(s, d), "doc_id")
        val emb = Multimodal.videoEmbeddings(media).toDF()
        Extensions.annIvf(emb, "embedding", "media_id",
            queryIds = Seq(2L, 5L, 8L), k = 10, nCells = 8, nprobe = 8)
          .orderBy("query_id", "rank")
      },
      None),

    // ── IVF ANN, ORACLE-exact since r13: assignment is the literal
    // float-centroid projection (nearestCellExpr), the probe and the
    // exact rescore are guarded cosines — all replayed by the
    // generated twin from THIS run's captured fit (PqOracles) ───────────
    QuerySpec("ann_ivf",
      (s, d) => {
        val out = Extensions.annIvf(embeddings(s, d), "embedding",
            "vec_id", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
          .orderBy("query_id", "rank")
        Option(Extensions.lastAnnIvfFit.get()).foreach(PqOracles.stashAnnIvf)
        out
      },
      None,
      lazyOracle = Some(() => PqOracles.annIvfSql(Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, nprobe = 4))),

    // ── content-defined chunking (gear/Rabin at token granularity):
    // a chunk ends at every token whose md5-60-bit hash ≡ 0 (mod 64) —
    // boundaries depend only on LOCAL content, so edits re-chunk just
    // their neighborhood (the edit-stability incremental dedup needs;
    // fixed-width chunks shift every boundary after one insertion).
    // Pure projection + generator, NO shuffle; boundary rule and
    // chunk hash are both md5 slices → oracle-exact end to end ──────────
    QuerySpec("cdc_chunking",
      (s, d) => Extensions.cdcChunks(documents(s, d), "text", "doc_id",
          avgLen = 64)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, toks, i.range AS i
             |  FROM t, range(1, 100000) i WHERE i.range <= len(toks)),
             |e AS (
             |  SELECT doc_id, toks, i FROM p
             |  WHERE ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT % 64 = 0
             |     OR i = len(toks)),
             |c AS (
             |  SELECT doc_id, toks, i AS end_i,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY i)
             |           AS chunk_idx,
             |         coalesce(lag(i) OVER (PARTITION BY doc_id
             |           ORDER BY i), 0) + 1 AS start_tok
             |  FROM e)
             |SELECT doc_id, chunk_idx::INT AS chunk_idx,
             |       start_tok::INT AS start_tok,
             |       (end_i - start_tok + 1)::INT AS n_tokens,
             |       ('0x' || substr(md5(array_to_string(
             |          toks[start_tok:end_i], ' ')), 1, 15))::BIGINT
             |         AS chunk_hash
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ── chunk-level cross-document duplication over the cdc_chunking
    // table: per doc, the chunk instances and token mass shared
    // verbatim with ≥2 distinct documents — paragraph-granularity copy
    // detection, edit-robust thanks to the content-defined boundaries.
    // One chunking pass; the hash exchange moves (hash, doc) rows ──────
    QuerySpec("chunk_dedup",
      (s, d) => Extensions.chunkDedup(documents(s, d), "text", "doc_id",
          avgLen = 64, minDocs = 2)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, toks, i.range AS i
             |  FROM t, range(1, 100000) i WHERE i.range <= len(toks)),
             |e AS (
             |  SELECT doc_id, toks, i FROM p
             |  WHERE ('0x' || substr(md5(toks[i]), 1, 15))::BIGINT % 64 = 0
             |     OR i = len(toks)),
             |c AS (
             |  SELECT doc_id, toks, i AS end_i,
             |         coalesce(lag(i) OVER (PARTITION BY doc_id
             |           ORDER BY i), 0) + 1 AS start_tok
             |  FROM e),
             |ch AS (
             |  SELECT doc_id, (end_i - start_tok + 1)::BIGINT AS n_tokens,
             |         ('0x' || substr(md5(array_to_string(
             |            toks[start_tok:end_i], ' ')), 1, 15))::BIGINT
             |           AS chunk_hash
             |  FROM c),
             |chc AS (SELECT chunk_hash, doc_id, count(*)::BIGINT AS cnt,
             |               sum(n_tokens)::BIGINT AS tok_sum
             |        FROM ch GROUP BY 1, 2),
             |bh AS (SELECT chunk_hash, count(*)::BIGINT AS ndocs
             |       FROM chc GROUP BY 1)
             |SELECT doc_id, sum(cnt)::BIGINT AS n_chunks,
             |       sum(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END)::BIGINT
             |         AS n_shared,
             |       sum(tok_sum)::BIGINT AS n_tokens,
             |       round(sum(CASE WHEN ndocs >= 2 THEN tok_sum ELSE 0 END)
             |               ::DOUBLE / sum(tok_sum)::DOUBLE, 6)
             |         AS shared_token_frac
             |FROM chc JOIN bh USING (chunk_hash)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── sliding context windows (512 chars, stride 384) per document:
    // pure projection + sequence() explode, zero shuffles ────────────────
    QuerySpec("overlap_chunking",
      (s, d) => Extensions.overlapChunks(documents(s, d), "doc_id",
          "n_chars", ctxLen = 512, stride = 384)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH s AS (
             |  SELECT doc_id, n_chars,
             |         CASE WHEN n_chars <= 512 THEN CAST(1 AS BIGINT)
             |              ELSE (n_chars - 512 + 383) // 384 + 1 END AS k
             |  FROM documents WHERE n_chars > 0),
             |u AS (SELECT doc_id, n_chars,
             |             unnest(generate_series(0, k - 1)) AS i
             |      FROM s)
             |SELECT doc_id, i::INT AS chunk_idx, i * 384 AS tok_start,
             |       least(i * 384 + 512, n_chars) AS tok_end
             |FROM u ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ── blocked fuzzy match of distinct part names against a
    // deterministically-corrupted copy (3rd char dropped): 2-char prefix
    // blocks, levenshtein ≤ 1 rescoring — per-block pairs, never n² ─────
    QuerySpec("fuzzy_match",
      (s, d) => {
        val names = part(s, d).select(col("p_name")).distinct()
        val corrupted = names.select(
          concat(substring(col("p_name"), 1, 2),
            substring(col("p_name"), 4, 1000)).as("r_name")).distinct()
        Extensions.fuzzyJoin(names, corrupted, "p_name", "r_name",
            "p_name", "r_name", maxDist = 1, blockLen = 2)
          .orderBy("p_name", "r_name")
      },
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part),
             |c AS (SELECT DISTINCT substr(p_name, 1, 2) || substr(p_name, 4) AS r_name
             |      FROM n)
             |SELECT n.p_name, c.r_name,
             |       levenshtein(n.p_name, c.r_name)::INT AS dist
             |FROM n JOIN c
             |  ON lower(substr(n.p_name, 1, 2)) = lower(substr(c.r_name, 1, 2))
             |WHERE levenshtein(n.p_name, c.r_name) <= 1
             |ORDER BY p_name, r_name""".stripMargin)),

    // ── intra-document segment dedup (boilerplate removal): first
    // occurrence of each distinct segment kept in original order; doc-
    // keyed shuffles only, no cross-document movement. Segment = token
    // here (the synthetic text is single-line); lines in real corpora ────
    QuerySpec("segment_dedup",
      (s, d) => Extensions.dedupSegments(documents(s, d), "text", "doc_id",
          sep = " ")
        .orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |         unnest(string_split(text, ' ')) AS seg,
             |         generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, seg, min(pos) AS pos, count(*) AS cnt
             |  FROM p GROUP BY 1, 2)
             |SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS dedup_text,
             |       CAST(sum(cnt) AS BIGINT) AS n_segments,
             |       CAST(count(*) AS BIGINT) AS n_unique
             |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── ExactSubstr-style repeated-span regions: every 20-token window
    // duplicated corpus-wide marks its range, overlapping marks merge —
    // the substring-level dedup that catches boilerplate doc-level
    // dedup misses. One span-key exchange + one doc-window exchange ────
    QuerySpec("span_dedup",
      (s, d) => Extensions.spanDedup(documents(s, d), "text", "doc_id",
          n = 20, minDf = 2L)
        .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, i.range::INT AS pos,
             |         array_to_string(toks[i.range+1:i.range+20], ' ')
             |           AS span
             |  FROM t, range(0, 100000) i
             |  WHERE i.range <= len(toks) - 20),
             |hot AS (SELECT span FROM s GROUP BY 1 HAVING count(*) >= 2),
             |m AS (SELECT doc_id, pos FROM s JOIN hot USING (span)),
             |g AS (
             |  SELECT doc_id, pos,
             |         CASE WHEN pos - lag(pos) OVER (
             |                PARTITION BY doc_id ORDER BY pos) <= 20
             |              THEN 0 ELSE 1 END AS brk
             |  FROM m),
             |seg AS (
             |  SELECT doc_id, pos,
             |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
             |           ROWS UNBOUNDED PRECEDING) AS seg
             |  FROM g)
             |SELECT doc_id, min(pos)::INT AS span_start,
             |       (max(pos) + 20)::INT AS span_end,
             |       count(*)::BIGINT AS n_windows
             |FROM seg GROUP BY doc_id, seg
             |ORDER BY doc_id, span_start""".stripMargin)),

    // ── LM sequence-packing manifest: per-source doc streams sliced
    // into 4096-token bins, one row per (doc × bin) slice — exact
    // integer window math, one group exchange + a bounded explode ───────
    QuerySpec("sequence_packing",
      (s, d) => Extensions.sequencePack(documents(s, d), "source",
          "doc_id", "n_chars", capacity = 4096L)
        .orderBy("source", "bin_id", "doc_id"),
      Some("""WITH x AS (
             |  SELECT source, doc_id, n_chars::BIGINT AS len,
             |         CAST(sum(n_chars::BIGINT) OVER (
             |           PARTITION BY source ORDER BY doc_id
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             |  FROM documents WHERE n_chars > 0),
             |b AS (
             |  SELECT source, doc_id, len, cum, cum - len AS s,
             |         unnest(generate_series((cum - len) // 4096,
             |                                (cum - 1) // 4096)) AS bin_id
             |  FROM x)
             |SELECT source, bin_id, doc_id,
             |       greatest(bin_id * 4096, s) - s AS doc_slice_start,
             |       greatest(bin_id * 4096, s) - bin_id * 4096
             |         AS bin_offset,
             |       least((bin_id + 1) * 4096, cum)
             |         - greatest(bin_id * 4096, s) AS slice_len
             |FROM b ORDER BY source, bin_id, doc_id""".stripMargin)),

    // ── product quantization codes, ORACLE-exact since r13: the
    // kmeans++ codebook is a pure deterministic driver fit, so it
    // enters the DuckDB twin as shortest-round-trip double literals
    // and the twin replays the PqOps encode kernel bit-for-bit
    // (PqOracles; the ann_bucketed playbook over data-fit literals).
    // The stashed thunk re-derives the codebook at oracle-dump time —
    // zero cost in Bench timings. ───────────────────────────────────────
    QuerySpec("pq_codes",
      (s, d) => {
        PqOracles.stashCb16(() => Extensions.pqCodebookOf(
          embeddings(s, d), "embedding", "vec_id",
          embeddings(s, d).select(size(col("embedding"))).head().getInt(0),
          4, 16, 42L))
        Extensions.pqQuantize(embeddings(s, d), "embedding",
            "vec_id", m = 4, k = 16)
          .select(col("vec_id"), concat_ws(",", col("codes")).as("codes"),
            col("recon_mse"))
          .orderBy("vec_id")
      },
      None,
      lazyOracle = Some(() => PqOracles.pqCodesSql())),

    // ── PQ asymmetric-distance top-k, ORACLE-exact since r13: same
    // driver-literal codebook replay; the ADC sum and the
    // (adc, neighbor_id) rank both replay exactly (PqOracles) ───────────
    QuerySpec("pq_topk",
      (s, d) => {
        PqOracles.stashCb16(() => Extensions.pqCodebookOf(
          embeddings(s, d), "embedding", "vec_id",
          embeddings(s, d).select(size(col("embedding"))).head().getInt(0),
          4, 16, 42L))
        Extensions.pqTopK(embeddings(s, d), "embedding",
            "vec_id", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
          .orderBy("query_id", "rank")
      },
      None,
      lazyOracle = Some(() => PqOracles.pqTopKSql(Seq(0L, 1L, 2L, 3L, 4L),
        k = 10))),

    // ── IVF+PQ composed search, ORACLE-exact since r13: the operator
    // runs eagerly (it persists + counts its result), so its fn can
    // stash the captured coarse centroids + codebook for the deferred
    // twin — the oracle replays the cell assignment (literal
    // float-centroid projection since r13), the probe ranking, the
    // ADC shortlist, and the exact re-rank of THIS run's fit ────────────
    QuerySpec("ivfpq_topk",
      (s, d) => {
        val out = Extensions.ivfPqTopK(embeddings(s, d), "embedding",
            "vec_id", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
          .orderBy("query_id", "rank")
        Option(Extensions.lastIvfPqFit.get()).foreach(PqOracles.stashIvfPq)
        out
      },
      None,
      lazyOracle = Some(() => PqOracles.ivfpqSql(Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, nprobe = 8, refineFactor = 8))),

    // ── LSH-bucketed ANN, ORACLE-exact since r12: the seeded
    // hyperplanes are driver-known literals, so the oracle re-derives
    // every sign bucket itself — each plane interpolated as
    // shortest-round-trip doubles (parse back to the identical
    // values), list_dot_product mirroring the SignBuckets fold
    // bit-for-bit, `>= 0` sets the bit. Candidates = collide in ANY
    // table (the OR-join), then the exact L2 rescore and the
    // asc-l2/asc-id rank replay topKBy's order on full precision. ───────
    QuerySpec("ann_bucketed",
      (s, d) => Extensions.annBucketed(embeddings(s, d), "embedding",
          "vec_id", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("l2_dist"), 6).as("l2_dist"), col("rank"))
        .orderBy("query_id", "rank"),
      Some(annBucketedOracleSql(queryIds = Seq(0L, 1L, 2L, 3L, 4L),
        k = 10, numTables = 4, bitsPerTable = 4, seed = 42L, dim = 64))),

    // ── semantic dedup end to end: blocked near-dup pairs (recall 1 by
    // the triangle inequality) → transitive closure → KEEP-BEST survivor
    // (longest doc wins, ties to smallest id). Oracle = all-pairs cosine
    // + WITH RECURSIVE reachability + exact arg-max — the full pipeline
    // proven against SQL, not just its pair stage ───────────────────────
    QuerySpec("semantic_dedup",
      (s, d) => Extensions.semanticDedup(
          documents(s, d),
          embeddings(s, d).filter(col("vec_id") < 500)
            .select(col("vec_id").as("doc_id"), col("embedding")),
          "doc_id", "n_chars", "embedding", minCosine = 0.35, nCells = 16)
        .orderBy("doc_id"),
      Some(semanticDedupOracle)),

    // ── INCREMENTAL semantic dedup (VERDICT r13 #5): the same corpus
    // arrives as two snapshots (doc_id < 250, then ≥ 250) against a
    // persisted SemanticStore — frozen-quantizer cell assignment,
    // batch×(stored ∪ batch) blocked pair scan (recall 1), pairs/meta
    // appended as an epoch beside the IvfIndex vectors. The pair-store
    // design makes the accumulated state EXACTLY the batch run on the
    // union, so this entry shares semantic_dedup's WITH RECURSIVE
    // oracle VERBATIM — the strongest equivalence the gate can state ───
    QuerySpec("semantic_dedup_incremental",
      (s, d) => {
        val dir = tempDir("graft-semstore")
        val docs = documents(s, d)
        val emb = embeddings(s, d).filter(col("vec_id") < 500)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        // first snapshot commits via ingestOnly: its returned state is
        // discarded here, and building it runs an EAGER transitive-
        // closure fixpoint (r18 optimization — committed bytes and the
        // final state are identical, SemanticStoreSpec's ingestOnly law)
        SemanticStore.ingestOnly(s"$dir/store",
          docs.filter(col("doc_id") < 250),
          emb.filter(col("doc_id") < 250),
          "doc_id", "n_chars", "embedding", minCosine = 0.35,
          nCells = 16, epochName = "s1")
        SemanticStore.ingest(s"$dir/store",
          docs.filter(col("doc_id") >= 250),
          emb.filter(col("doc_id") >= 250),
          "doc_id", "n_chars", "embedding", minCosine = 0.35,
          nCells = 16, epochName = "s2")
          .orderBy("doc_id")
      },
      Some(semanticDedupOracle)),

    // ── TAKE-DOWN DELETE on the persisted store (r16): the same
    // two-snapshot lifecycle, then SemanticStore.delete of 30 fixed
    // ids — the post-delete snapshot must equal the batch run on the
    // corpus WITHOUT those ids (deleted docs leave the domain and
    // every pair touching them leaves the closure, so a deleted
    // bridge doc no longer merges components). Oracle = the shared
    // WITH RECURSIVE twin with the ids excluded up front. Deletion is
    // logical here (the read-path anti-joins); physical removal at
    // compact is spec-pinned (file-level asserts) ──────────────────────
    QuerySpec("semantic_dedup_delete",
      (s, d) => {
        import s.implicits._
        val dir = tempDir("graft-semstore-del")
        val docs = documents(s, d)
        val emb = embeddings(s, d).filter(col("vec_id") < 500)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        // both snapshots commit via ingestOnly — neither intermediate
        // state is read; only the post-delete snapshot below is (r18
        // optimization, same committed bytes)
        SemanticStore.ingestOnly(s"$dir/store",
          docs.filter(col("doc_id") < 250),
          emb.filter(col("doc_id") < 250),
          "doc_id", "n_chars", "embedding", minCosine = 0.35,
          nCells = 16, epochName = "s1")
        SemanticStore.ingestOnly(s"$dir/store",
          docs.filter(col("doc_id") >= 250),
          emb.filter(col("doc_id") >= 250),
          "doc_id", "n_chars", "embedding", minCosine = 0.35,
          nCells = 16, epochName = "s2")
        SemanticStore.delete(s"$dir/store",
          semanticDedupDeleteIds.toDF("doc_id"), "doc_id", "d1")
        SemanticStore.snapshot(s, s"$dir/store", "doc_id", "n_chars")
          .orderBy("doc_id")
      },
      Some(semanticDedupOracleSql(
        s"\n    AND vec_id NOT IN (${semanticDedupDeleteIds.mkString(", ")})"))),

    // ── windowed skip-gram PMI collocations: in-array pair build (no
    // position self-join), marginals re-aggregate the pair table ────────
    QuerySpec("token_pmi",
      (s, d) => Extensions.tokenPmi(documents(s, d), "text", "doc_id",
          window = 2, minCount = 5, topN = 100),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, i.range AS i, toks[i.range] AS w
             |  FROM t, range(1, 100000) i WHERE i.range <= len(toks)),
             |pr AS (
             |  SELECT a.w AS w1, b.w AS w2
             |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id
             |   AND b.i - a.i BETWEEN 1 AND 2),
             |c AS (SELECT w1, w2, count(*) AS c_ab FROM pr GROUP BY 1, 2),
             |l AS (SELECT w1, sum(c_ab) AS ca FROM c GROUP BY 1),
             |r AS (SELECT w2, sum(c_ab) AS cb FROM c GROUP BY 1),
             |tt AS (SELECT sum(c_ab) AS t FROM c)
             |SELECT c.w1, c.w2, c.c_ab,
             |       round(ln(c.c_ab::DOUBLE * tt.t
             |                / (l.ca::DOUBLE * r.cb)), 6) AS pmi
             |FROM c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt
             |WHERE c_ab >= 5
             |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin)),

    // ── Gopher quality rules (public heuristics, Rae et al. 2021):
    // per-rule flags + conjunction, pure projection ──────────────────────
    QuerySpec("gopher_rules",
      (s, d) => Extensions.gopherRules(documents(s, d), "text", "doc_id")
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, len(toks)::INT AS n_words,
             |         round(list_sum(list_transform(toks,
             |                 x -> length(x)))::BIGINT
             |               / len(toks)::DOUBLE, 6) AS mean_word_len,
             |         round(len(list_filter(toks,
             |                 x -> regexp_matches(x, '[a-z]')))
             |               / len(toks)::DOUBLE, 6) AS alpha_frac,
             |         len(list_filter(toks, x -> x IN ('the','be','to',
             |             'of','and','that','have','with')))::BIGINT
             |           AS stop_hits
             |  FROM t WHERE len(toks) >= 1)
             |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
             |       (n_words BETWEEN 50 AND 100000)::INT AS ok_words,
             |       (mean_word_len >= 3.0 AND mean_word_len <= 10.0)::INT
             |         AS ok_word_len,
             |       (alpha_frac >= 0.8)::INT AS ok_alpha,
             |       (stop_hits >= 2)::INT AS ok_stop,
             |       ((n_words BETWEEN 50 AND 100000)
             |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             |        AND alpha_frac >= 0.8 AND stop_hits >= 2)::INT
             |         AS passes
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ── length-grouped batching manifest: 32-token length classes,
    // 16-doc batches in deterministic md5 order, positions via the
    // two-level prefix-sum (no class-sized window); oracle = the
    // direct per-class global window ────────────────────────────────────
    QuerySpec("length_batching",
      (s, d) => Extensions.lengthBatches(documents(s, d), "text",
          "doc_id", binWidth = 32, batchSize = 16)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         len(string_split(lower(text), ' '))::INT AS n_tokens,
             |         md5(doc_id::VARCHAR) AS h
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens, n_tokens // 32 AS cls, h
             |      FROM t),
             |p AS (SELECT doc_id, n_tokens, cls,
             |             row_number() OVER (PARTITION BY cls
             |               ORDER BY h, doc_id) - 1 AS pos
             |      FROM c)
             |SELECT doc_id, n_tokens, cls::INT AS len_class,
             |       pos // 16 AS batch_idx, pos % 16 AS slot
             |FROM p ORDER BY doc_id""".stripMargin)),

    // ── padding-efficiency report over the batching manifest ────────────
    QuerySpec("padding_stats",
      (s, d) => Extensions.paddingStats(documents(s, d), "text",
          "doc_id", binWidth = 32, batchSize = 16)
        .orderBy("len_class", "batch_idx"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         len(string_split(lower(text), ' '))::INT AS n_tokens,
             |         md5(doc_id::VARCHAR) AS h
             |  FROM documents),
             |c AS (SELECT doc_id, n_tokens, n_tokens // 32 AS cls, h
             |      FROM t),
             |p AS (SELECT n_tokens, cls,
             |             row_number() OVER (PARTITION BY cls
             |               ORDER BY h, doc_id) - 1 AS pos
             |      FROM c),
             |b AS (SELECT cls::INT AS len_class, pos // 16 AS batch_idx,
             |             n_tokens
             |      FROM p)
             |SELECT len_class, batch_idx, count(*) AS n_docs,
             |       max(n_tokens)::INT AS max_tokens,
             |       sum(n_tokens)::BIGINT AS sum_tokens,
             |       round(1 - sum(n_tokens)::BIGINT
             |             / (count(*) * max(n_tokens)), 6) AS waste_frac
             |FROM b GROUP BY 1, 2
             |ORDER BY len_class, batch_idx""".stripMargin)),

    // ── per-source token-budget admission, the batch twin of the
    // streaming TokenBudgetProcessor (greedy quota: admit in doc_id
    // order while the PRIOR admitted total is under budget — may
    // overshoot by one doc). Running sums via the two-level prefix-sum
    // (no source-count-bounded window); oracle = the direct
    // per-source cumulative window ──────────────────────────────────────
    QuerySpec("stream_admission",
      (s, d) => Extensions.tokenBudgetBatch(documents(s, d), "source",
          "doc_id", size(Extensions.tokens(col("text"))),
          budgetPerSource = 600L)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         len(string_split(lower(text), ' '))::BIGINT
             |           AS n_tokens
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND source IS NOT NULL),
             |c AS (
             |  SELECT doc_id, source, n_tokens,
             |         sum(n_tokens) OVER (PARTITION BY source
             |           ORDER BY doc_id)::BIGINT AS running_tokens
             |  FROM t)
             |SELECT doc_id, source, n_tokens, running_tokens
             |FROM c WHERE running_tokens - n_tokens < 600
             |ORDER BY doc_id""".stripMargin)),

    // ── per-doc novelty: share of shingles first seen in this doc
    // (Spark keys on xxhash64(shingle), the oracle on the string) ───────
    QuerySpec("novelty_score",
      (s, d) => Extensions.noveltyScore(documents(s, d), "text",
          "doc_id", n = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents),
             |s AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM t, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |f AS (SELECT sh, min(doc_id) AS fst FROM s GROUP BY 1),
             |sc AS (
             |  SELECT s.doc_id, count(*) AS n_shingles,
             |         sum((s.doc_id = f.fst)::BIGINT) AS n_first
             |  FROM s JOIN f USING (sh) GROUP BY 1)
             |SELECT d.doc_id,
             |       coalesce(sc.n_shingles, 0) AS n_shingles,
             |       coalesce(sc.n_first, 0)::BIGINT AS n_first,
             |       coalesce(round(sc.n_first / sc.n_shingles, 6), 0.0)
             |         AS novelty_frac
             |FROM (SELECT doc_id FROM documents) d
             |LEFT JOIN sc USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ── per-doc contamination fraction (the metric form of the flag;
    // Spark joins on xxhash64(shingle), the oracle on the string —
    // identical up to a 2^-64 collision) ────────────────────────────────
    QuerySpec("contamination_score",
      (s, d) => {
        val docs0 = documents(s, d)
        Extensions.contaminationScore(
            docs0.filter(col("doc_id") >= 100),
            docs0.filter(col("doc_id") < 100),
            "text", "doc_id", n = 8)
          .orderBy("doc_id")
      },
      Some("""WITH tr AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id >= 100),
             |ev AS (
             |  SELECT string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 100),
             |ts AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM tr, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |es AS (
             |  SELECT DISTINCT
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM ev, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |sc AS (
             |  SELECT ts.doc_id, count(*) AS n_shingles,
             |         sum((es.sh IS NOT NULL)::BIGINT) AS n_hit
             |  FROM ts LEFT JOIN es ON es.sh = ts.sh GROUP BY 1)
             |SELECT d.doc_id,
             |       coalesce(sc.n_shingles, 0) AS n_shingles,
             |       coalesce(sc.n_hit, 0)::BIGINT AS n_hit,
             |       coalesce(round(sc.n_hit / sc.n_shingles, 6), 0.0)
             |         AS overlap_frac
             |FROM (SELECT doc_id FROM documents WHERE doc_id >= 100) d
             |LEFT JOIN sc USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ── Bloom-filter decontamination (the broadcast-filter scale
    // path), ORACLE-exact since r12: the catalog form double-hashes
    // with the two disjoint md5-60-bit slices both engines compute
    // identically, so DuckDB rebuilds the exact bit set and replays
    // every probe — false positives included. The xxhash64 default
    // stays the production fast path, spec-covered (superset law vs
    // the exact form + FPR bound in ExtensionsSpec) ──────────────────────
    QuerySpec("bloom_decontaminate",
      (s, d) => {
        val docs0 = documents(s, d)
        Extensions.bloomDecontaminate(
            docs0.filter(col("doc_id") >= 100),
            docs0.filter(col("doc_id") < 100),
            "text", "doc_id", n = 8, numBits = BloomBits,
            numHashes = BloomHashes,
            hashPair = sh => (Extensions.md5Hash60(sh),
              Extensions.md5Hash60b(sh)))
          .orderBy("doc_id")
      },
      Some(s"""WITH tr AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id >= 100),
             |ev AS (
             |  SELECT string_split(lower(text), ' ') AS toks
             |  FROM documents WHERE doc_id < 100),
             |es AS (
             |  SELECT DISTINCT
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM ev, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |eh AS (
             |  SELECT ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h1,
             |         ('0x' || substr(md5(sh), 17, 15))::BIGINT AS h2
             |  FROM es),
             |bits AS (
             |  SELECT DISTINCT ((h1 % $BloomBits)
             |    + i.range * ((h2 % $BloomBits) | 1)) % $BloomBits AS pos
             |  FROM eh, range(0, $BloomHashes) i),
             |ts AS (
             |  SELECT DISTINCT doc_id,
             |         array_to_string(toks[i.range:i.range+7], ' ') AS sh
             |  FROM tr, range(1, 100000) i WHERE i.range <= len(toks) - 7),
             |th AS (
             |  SELECT doc_id,
             |         ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h1,
             |         ('0x' || substr(md5(sh), 17, 15))::BIGINT AS h2
             |  FROM ts),
             |tp AS (
             |  SELECT doc_id, h1, h2, ((h1 % $BloomBits)
             |    + i.range * ((h2 % $BloomBits) | 1)) % $BloomBits AS pos
             |  FROM th, range(0, $BloomHashes) i),
             |hit AS (
             |  SELECT doc_id, h1, h2, count(b.pos) AS nh
             |  FROM tp LEFT JOIN bits b USING (pos)
             |  GROUP BY 1, 2, 3),
             |fl AS (SELECT DISTINCT doc_id FROM hit
             |       WHERE nh = $BloomHashes)
             |SELECT d.doc_id, (fl.doc_id IS NOT NULL)::INT AS contaminated
             |FROM (SELECT doc_id FROM documents WHERE doc_id >= 100) d
             |LEFT JOIN fl USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ── K-fold out-of-fold target encoding with additive smoothing:
    // the leakage-safe target encoder (fold = id mod K, exact integer
    // cent sums, total-minus-own-fold) ──────────────────────────────────
    QuerySpec("target_encode_oof",
      (s, d) => Features.targetEncodingOof(orders(s, d),
          "o_orderpriority", "o_totalprice", "o_orderkey",
          folds = 5, smoothing = 20.0, valueScale = 100)
        .orderBy("o_orderkey"),
      Some("""WITH w AS (
             |  SELECT o_orderkey, o_orderpriority,
             |         o_orderkey % 5 AS fold,
             |         CAST(round(o_totalprice * 100) AS BIGINT) AS v
             |  FROM orders
             |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
             |bf AS (SELECT o_orderpriority, fold, sum(v) AS fs,
             |              count(*) AS fc
             |       FROM w GROUP BY 1, 2),
             |bc AS (SELECT o_orderpriority, sum(fs) AS cs, sum(fc) AS cc
             |       FROM bf GROUP BY 1),
             |pr AS (SELECT sum(fs)::DOUBLE / sum(fc) AS prior FROM bf)
             |SELECT w.o_orderkey, w.o_orderpriority, w.fold,
             |       round(((bc.cs - bf.fs)::DOUBLE + 20.0 * pr.prior)
             |             / ((bc.cc - bf.fc)::DOUBLE + 20.0) / 100,
             |             6) AS o_orderpriority_te_oof
             |FROM w
             |JOIN bf ON bf.o_orderpriority = w.o_orderpriority
             |       AND bf.fold = w.fold
             |JOIN bc ON bc.o_orderpriority = w.o_orderpriority
             |CROSS JOIN pr
             |ORDER BY w.o_orderkey""".stripMargin)),

    // ── top-V vocabulary + OOV encode: vocabulary as one broadcast map
    // scalar, the encode itself pure projection ─────────────────────────
    QuerySpec("vocab_encode",
      (s, d) => Extensions.vocabEncode(documents(s, d), "text", "doc_id",
          vocabSize = 64)
        .orderBy("doc_id"),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(lower(text), ' ')) AS w
             |  FROM documents),
             |f AS (SELECT w, count(*) AS cf FROM tok GROUP BY 1),
             |v AS (SELECT w, row_number() OVER (ORDER BY cf DESC, w) - 1
             |        AS tid
             |      FROM f ORDER BY cf DESC, w LIMIT 64),
             |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
             |      FROM documents),
             |p AS (SELECT doc_id, i.range AS i, toks[i.range] AS w,
             |             len(toks) AS n
             |      FROM t, range(1, 100000) i WHERE i.range <= len(toks)),
             |e AS (SELECT p.doc_id, p.i, p.n,
             |             coalesce(v.tid, 64) AS tid,
             |             (v.tid IS NULL)::INT AS oov
             |      FROM p LEFT JOIN v ON v.w = p.w)
             |SELECT doc_id, max(n)::INT AS n_tokens,
             |       sum(oov)::INT AS n_oov,
             |       string_agg(tid::VARCHAR, ',' ORDER BY i) AS token_ids
             |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ── BPE merge training (first 6 merge rules over the word-freq
    // table). Oracle (r10, VERDICT r9 #7): the 6 greedy rounds unroll
    // into chained CTEs — pair counts from the current segmentation,
    // argmax with the (count desc, left, right) tie-break, then the
    // SAME greedy left-to-right fold Spark's aggregate() runs, as a
    // DuckDB list_reduce over a unit-separator-joined state (also
    // spec-proven against a plain-Scala reference implementation) ───────
    QuerySpec("bpe_merges",
      (s, d) => Extensions.bpeMerges(documents(s, d), "text", merges = 6)
        .orderBy("merge_rank"),
      Some(bpeSeedCte + bpeRoundCtes(6) + "\n" +
        s"""SELECT r AS merge_rank, a AS "left", b AS "right",
           |       c AS pair_count FROM (
           |${(1 to 6).map(r => s"SELECT $r AS r, * FROM b$r")
             .mkString(" UNION ALL ")}
           |) ORDER BY merge_rank""".stripMargin)),

    // ── tokenizer fitness: apply the learned merges, report chars per
    // token. Oracle = the same unrolled-merge CTE chain, re-aggregated
    // over the final segmentation (corpus-level counts also spec-proven
    // against the reference BPE's own encode) ───────────────────────────
    QuerySpec("bpe_stats",
      (s, d) => Extensions.bpeStats(documents(s, d), "text", merges = 6),
      Some(bpeSeedCte + bpeRoundCtes(6) + "\n" +
        """SELECT sum(f)::BIGINT AS n_words,
          |       sum(f * nc)::BIGINT AS n_chars,
          |       sum(f * len(s))::BIGINT AS n_tokens,
          |       round(sum(f * nc)::DOUBLE / sum(f * len(s)), 6)
          |         AS chars_per_token
          |FROM w6""".stripMargin)),

    // ── per-document BPE ENCODING (VERDICT r13 #6): apply the trained
    // merge table — the tokenizer-throughput scan. Oracle = the same
    // unrolled-merge CTE chain (now carrying each word through the
    // rounds), joined back onto every document's word stream in
    // position order; the encoded stream re-joins with string_agg
    // ORDER BY word position. Empty docs LEFT-JOIN to zero counts,
    // matching Spark's pure-projection row-per-doc shape ────────────────
    QuerySpec("bpe_encode",
      (s, d) => Extensions.bpeEncode(documents(s, d), "text", "doc_id",
          merges = 6)
        .orderBy("doc_id"),
      Some(bpeSeedCte + bpeRoundCtes(6) + "," + "\n" +
        """enc AS (SELECT w, s FROM w6),
          |d AS (SELECT doc_id,
          |             list_filter(string_split(lower(coalesce(text, '')),
          |                                      ' '), x -> len(x) > 0) AS ws
          |      FROM documents),
          |x AS (SELECT doc_id, u.i AS i, u.w AS w FROM (
          |        SELECT doc_id,
          |               unnest(list_transform(generate_series(1, len(ws)),
          |                 i -> {'i': i, 'w': ws[i]})) AS u
          |        FROM d)),
          |a AS (SELECT x.doc_id,
          |             count(*)::INT AS n_words,
          |             sum(len(x.w))::BIGINT AS n_chars,
          |             sum(len(enc.s))::INT AS n_tokens,
          |             string_agg(array_to_string(enc.s, ' '), ' '
          |               ORDER BY x.i) AS bpe_tokens
          |      FROM x JOIN enc ON x.w = enc.w GROUP BY x.doc_id)
          |SELECT d.doc_id, coalesce(a.n_words, 0)::INT AS n_words,
          |       coalesce(a.n_chars, 0)::BIGINT AS n_chars,
          |       coalesce(a.n_tokens, 0)::INT AS n_tokens,
          |       coalesce(a.bpe_tokens, '') AS bpe_tokens
          |FROM d LEFT JOIN a USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    // ── temperature-weighted mixing quotas (α = 0.3, exp/ln micro-unit
    // weights so the normalizer sums exactly) ───────────────────────────
    QuerySpec("temperature_mixing",
      (s, d) => Extensions.temperatureMixing(documents(s, d), "source",
          budget = 2000L, alpha = 0.3)
        .orderBy("source"),
      Some("""WITH c AS (
             |  SELECT source, count(*) AS n_docs FROM documents
             |  WHERE source IS NOT NULL GROUP BY 1),
             |x AS (
             |  SELECT source, n_docs,
             |         CAST(round(exp(0.3::DOUBLE * ln(n_docs::DOUBLE))
             |                    * 1e6) AS BIGINT) AS x
             |  FROM c),
             |t AS (SELECT sum(x) AS sx FROM x)
             |SELECT source, n_docs,
             |       round(x::DOUBLE / sx, 6) AS weight,
             |       least(n_docs,
             |             CAST(floor(x::DOUBLE / sx * 2000) AS BIGINT))
             |         AS target_docs
             |FROM x CROSS JOIN t ORDER BY source""".stripMargin)),

    // ── Zipf rank-frequency fit: scaled-ln integer moments in decimal
    // (order-independent sums), one vocabulary-bounded rank window ───────
    QuerySpec("zipf_slope",
      (s, d) => Extensions.zipfSlope(documents(s, d), "text"),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(lower(text), ' ')) AS w
             |  FROM documents),
             |f AS (SELECT w, count(*) AS cf FROM tok GROUP BY 1),
             |rk AS (SELECT cf, row_number() OVER (ORDER BY cf DESC, w) AS r
             |       FROM f),
             |m AS (SELECT CAST(round(ln(r::DOUBLE) * 1e6) AS BIGINT) AS x,
             |             CAST(round(ln(cf::DOUBLE) * 1e6) AS BIGINT) AS y
             |      FROM rk)
             |SELECT count(*) AS n_terms,
             |       round((count(*) * sum(x::HUGEINT * y)
             |              - sum(x::HUGEINT) * sum(y::HUGEINT))::DOUBLE
             |             / (count(*) * sum(x::HUGEINT * x)
             |                - sum(x::HUGEINT) * sum(x::HUGEINT))::DOUBLE,
             |             6) AS zipf_slope,
             |       round((count(*) * sum(x::HUGEINT * y)
             |              - sum(x::HUGEINT) * sum(y::HUGEINT))::DOUBLE
             |             * (count(*) * sum(x::HUGEINT * y)
             |                - sum(x::HUGEINT) * sum(y::HUGEINT))::DOUBLE
             |             / ((count(*) * sum(x::HUGEINT * x)
             |                 - sum(x::HUGEINT) * sum(x::HUGEINT))::DOUBLE
             |              * (count(*) * sum(y::HUGEINT * y)
             |                 - sum(y::HUGEINT) * sum(y::HUGEINT))::DOUBLE),
             |             6) AS r2
             |FROM m""".stripMargin)),

    // ── per-source Jensen–Shannon divergence vs the rest of the
    // corpus: the corpus-mixing drift score. Present-token terms are
    // micro-nat-quantized (order-free integer sum); the absent-token
    // mass folds into a closed form over exact integer counts — never
    // a source×vocabulary cross ─────────────────────────────────────────
    QuerySpec("js_divergence",
      (s, d) => Extensions.jsDivergence(documents(s, d), "text", "source")
        .orderBy("source"),
      Some("""WITH tok AS (
             |  SELECT source,
             |         unnest(list_filter(string_split(lower(text), ' '),
             |                            x -> x <> '')) AS t
             |  FROM documents),
             |st AS (SELECT source, t, count(*)::BIGINT AS c
             |       FROM tok GROUP BY 1, 2),
             |tt AS (SELECT t, sum(c)::BIGINT AS g FROM st GROUP BY 1),
             |sg AS (SELECT source, sum(c)::BIGINT AS n FROM st GROUP BY 1),
             |gr AS (SELECT sum(n)::BIGINT AS nn FROM sg),
             |x AS (
             |  SELECT st.source, st.c, tt.g, sg.n, gr.nn,
             |         st.c::DOUBLE / sg.n::DOUBLE AS p,
             |         (tt.g - st.c)::DOUBLE / (gr.nn - sg.n)::DOUBLE AS q
             |  FROM st JOIN tt USING (t) JOIN sg USING (source)
             |  CROSS JOIN gr),
             |y AS (
             |  SELECT source, n,
             |         CAST(round((p * ln(2.0 * p / (p + q))
             |           + CASE WHEN g > c THEN q * ln(2.0 * q / (p + q))
             |             ELSE 0.0 END) * 500000.0) AS BIGINT) AS tm,
             |         g - c AS qn, nn - n AS qd
             |  FROM x)
             |SELECT source, max(n) AS n_tokens, count(*) AS vocab_seg,
             |       round(sum(tm) / 1000000.0
             |             + 0.34657359027997264
             |               * (1.0 - sum(qn)::DOUBLE / max(qd)::DOUBLE), 6)
             |         AS jsd
             |FROM y GROUP BY source ORDER BY source""".stripMargin)),

    // ── deterministic DSIR importance resampling: Gumbel-top-k over
    // dsir_weights with md5-derandomized noise — weight and noise both
    // micro-nat longs, so the selection order compares exact integers.
    // The oracle replays the dsir CTEs, the gumbel transform, and the
    // top-k boundary bit-for-bit ─────────────────────────────────────────
    QuerySpec("dsir_resample",
      (s, d) => Extensions.dsirResample(documents(s, d), "text", "doc_id",
        isTarget = col("lang") === "en", k = 50, buckets = DsirBuckets),
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang,
             |         list_filter(string_split(lower(text), ' '),
             |                     x -> x <> '') AS toks
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, lang,
             |         unnest(list_concat(toks,
             |           list_transform(range(1, len(toks)),
             |             i -> toks[i] || ' ' || toks[i + 1]))) AS feat
             |  FROM t),
             |fb AS (
             |  SELECT doc_id, lang,
             |         ('0x' || substr(md5(feat), 1, 15))::BIGINT
             |           % $DsirBuckets AS f
             |  FROM f),
             |docf AS (SELECT doc_id, f, count(*)::BIGINT AS n
             |         FROM fb GROUP BY 1, 2),
             |rawc AS (SELECT f, sum(n)::BIGINT AS cr FROM docf GROUP BY 1),
             |tgtc AS (SELECT f, count(*)::BIGINT AS ct
             |         FROM fb WHERE lang = 'en' GROUP BY 1),
             |tot AS (SELECT (SELECT sum(cr) FROM rawc) AS nr,
             |               (SELECT sum(ct) FROM tgtc) AS nt),
             |lp AS (
             |  SELECT rawc.f,
             |         CAST(round(ln((coalesce(ct, 0) + 1)::DOUBLE
             |           / (nt + $DsirBuckets)) * 1000000.0) AS BIGINT)
             |           AS lpt,
             |         CAST(round(ln((cr + 1)::DOUBLE
             |           / (nr + $DsirBuckets)) * 1000000.0) AS BIGINT)
             |           AS lpr
             |  FROM rawc LEFT JOIN tgtc USING (f) CROSS JOIN tot),
             |dw AS (
             |  SELECT doc_id, sum(n)::BIGINT AS n_feats,
             |         CAST(sum(n * (lpt - lpr)) AS BIGINT) AS lw
             |  FROM docf JOIN lp USING (f) GROUP BY doc_id),
             |k AS (
             |  SELECT doc_id, n_feats, lw,
             |         CAST(round(-ln(-ln(
             |           (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
             |              ::BIGINT + 1)::DOUBLE
             |             / 1152921504606847232.0))
             |           * 1000000.0) AS BIGINT) AS gm
             |  FROM dw)
             |SELECT doc_id, n_feats, lw / 1000000.0 AS log_weight,
             |       gm AS gumbel_micro, lw + gm AS key_micro,
             |       row_number() OVER (ORDER BY lw + gm DESC, doc_id)::INT
             |         AS rank
             |FROM k ORDER BY key_micro DESC, doc_id LIMIT 50""".stripMargin))
  )
}

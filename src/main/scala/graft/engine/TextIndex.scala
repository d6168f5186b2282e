package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The BM25 text index, Lucene-style: a set of immutable SEGMENTS, each
  * holding postings (idCol, term, tf, dl, __bucket) with only
  * segment-local facts, plus a stats row (n_docs, sum_dl, n_buckets,
  * id_col). The global document frequency of a term is counted at
  * query time from its probed postings — complete because the bucket
  * is a pure function of the term, so a term's ENTIRE posting list
  * lives in one bucket of every segment. Appends therefore never
  * rewrite earlier segments, and scores equal a fresh build over the
  * same documents bit for bit (TextIndexSpec).
  *
  * A handle is either transient ([[TextIndex.build]]: postings computed
  * from the corpus on demand, nothing cached) or loaded
  * ([[TextIndex.load]]: postings parquet-partitioned by `__bucket`, so
  * a query reads only the bucket directories its terms hash to).
  * [[Extensions.bm25TopK]] is a query on a transient handle;
  * [[HybridIndex]] composes over loaded ones.
  *
  * A query resolves its text on the driver ([[TextIndex.QueryText]])
  * into a term → query-ids table bound BY REFERENCE ([[graft.functions
  * .RequestTable]]) and the bucket ids the terms hash to, computed by
  * the build's own bucket expression, analyzed once per handle. The
  * bucket ids prune the postings scan at the file level; each pruned
  * posting then takes its query ids from the table (one hash probe per
  * posting, whatever the batch's vocabulary) and the stream is keyed
  * by query from there on: one shuffle, after which `df`, the
  * (query, doc) sum and the top-k need no further exchange.
  *
  * Committed take-down deletes ([[TextIndex.delete]]) load as an id
  * exclusion applied BEFORE `df` is counted, with `nDocs`/`sumDl`
  * already net of the deletes' exact corrections, so scores equal a
  * fresh build over the survivors (the never-ingested law).
  */
final class SegmentedTextIndex private[engine] (
    val nDocs: Long,
    val sumDl: Long,
    private[engine] val postings: DataFrame,
    val idCol: String,
    val nBuckets: Int,
    private[engine] val deleted: Option[DataFrame] = None) {

  /** BM25 top-k per query; `queries` carries (queryIdCol,
    * queryTextCol). Output: (queryIdCol, idCol, bm25, rank). */
  def query(queries: DataFrame, queryTextCol: String, queryIdCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    Extensions.bm25RankTail(scores(queries, queryTextCol, queryIdCol),
      queryIdCol, idCol, k)
  }

  /** Write this index as a NEW index at `path`: one segment, through
    * the writer [[TextIndex.appendSegment]] uses; a loaded handle
    * writes its live documents only. A path that already holds an
    * index is refused: [[TextIndex.appendSegment]] grows one,
    * [[TextIndex.compactSegments]] rewrites one. */
  def save(path: String): Unit = TextIndex.saveNew(this, path)

  /** The unranked (queryIdCol, idCol, __score_int) stream [[query]]
    * ranks: integer micro-unit BM25 per (query, doc), after one
    * collect of the query text. */
  private[engine] def scores(queries: DataFrame, queryTextCol: String,
      queryIdCol: String): DataFrame =
    scoresOf(TextIndex.QueryText.collect(queries, queryTextCol, queryIdCol),
      queryIdCol, excludeSelf = false)

  // the build's bucket rule, analyzed once per handle
  private lazy val bucketOf = Extensions.driverProjection(
    postings.sparkSession,
    StructType(Seq(StructField("term", StringType))), TextIndex.bucket(nBuckets))

  /** `postings` without the deleted documents. */
  private def live(postings: DataFrame): DataFrame = deleted match {
    case None => postings
    case Some(del) => postings.join(del.select(col("__del_id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** The postings of the live documents — what a segment write keeps. */
  private[engine] def livePostings: DataFrame = live(postings)

  /** [[scores]] over query text the driver already holds. With
    * `excludeSelf`, a query's own document leaves its stream BEFORE the
    * bounded-heap rank (after `df` counted it), which is the direct
    * non-self top-k [[HybridIndex.queryByIds]] needs.
    *
    * `df` is a window count over (query, term): each such group holds
    * every live posting of the term exactly once (a term's ENTIRE
    * posting list lives in one hash bucket, and the table lists a query
    * once per term), so it equals the per-term count — and it is keyed
    * by query, which the shuffle already partitions on. The trade: one
    * task holds all probed postings of one query.
    *
    * The contribution is Okapi BM25 with the Lucene idf
    * (ln(1 + (N−df+0.5)/(df+0.5)), always positive), k1 = 1.2,
    * b = 0.75, rounded to integer MICRO-UNITS (·1e6 → BIGINT) before
    * the per-document sum: tf, df, dl, N and Σdl are exact integers,
    * every rational step is one correctly-rounded IEEE op in a fixed
    * order, and the sum is exact integer arithmetic, immune to the
    * order of Spark's partial aggregation. The only engine-dependent op
    * is ln(), contained by the rounding (the DuckDB twin in the catalog
    * replays the same expression). */
  private[engine] def scoresOf(text: TextIndex.QueryText, queryIdCol: String,
      excludeSelf: Boolean): DataFrame = {
    val (slots, buckets) = text.resolve(bucketOf)
    val keyed =
      live(postings.filter(Extensions.partitionIn("__bucket", buckets)))
        .select(
          explode(graft.functions.RequestTable.lookup(col("term"), slots))
            .as(queryIdCol),
          col(idCol), col("term"), col("tf"), col("dl"))
        .repartition(col(queryIdCol))
    val df = count(lit(1)).over(Window.partitionBy(queryIdCol, "term"))
    // bound, not inlined: every append changes them
    val (n, avgDl) = (graft.functions.RequestTable.bound(nDocs.toDouble),
      graft.functions.RequestTable.bound(sumDl.toDouble / nDocs))
    val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    val fTf = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / avgDl))
    val contrib = round(idf * fTf * lit(1000000.0)).cast("long")
      .as("__contrib")
    val scored =
      if (!excludeSelf) keyed.select(col(queryIdCol), col(idCol), contrib)
      else keyed
        .select(col(queryIdCol), col(idCol), contrib,
          (col(idCol) =!= col(queryIdCol)).as("__keep"))
        .filter(col("__keep"))
    scored.groupBy(col(queryIdCol), col(idCol))
      .agg(sum("__contrib").as("__score_int"))
  }
}

object TextIndex {

  /** The take-down delete set: ids under `deletes/`, markers (content
    * `<nDocs>|<sumDl>`, the delete's exact stats correction) under
    * `_deletes/`. */
  private def deleteSet(path: String) =
    new Generations.DeleteSet(path, "deletes", "_deletes")

  /** The build's term-hash bucket rule. */
  private[engine] def bucket(nBuckets: Int): Column =
    pmod(xxhash64(col("term")), lit(nBuckets)).cast("int")

  /** A query batch's text as the driver holds it: one (query id,
    * tokens) row per query, ids as catalyst values of `idType`, tokens
    * the [[Extensions.tokens]] array Spark computed (null for null
    * text). */
  private[engine] final case class QueryText(
      rows: Seq[(Any, org.apache.spark.sql.catalyst.util.ArrayData)],
      idType: DataType) {

    /** The distinct (query id, term) pairs — empty tokens dropped — as
      * a term → query-ids table, and the sorted bucket ids of the terms
      * under `bucketOf` (the build's [[bucket]] rule). Only the bucket
      * ids become literals, as a partition filter
      * ([[Extensions.partitionIn]]), because only a literal partition
      * filter prunes files. */
    def resolve(bucketOf: Extensions.DriverProjection)
        : (graft.functions.RequestTable, Seq[Int]) = {
      val pairs = rows.flatMap { case (id, toks) =>
        if (toks == null) Nil
        else (0 until toks.numElements()).filterNot(toks.isNullAt)
          .map(i => (toks.getUTF8String(i).clone(), id))
          .filter(_._1.numBytes() > 0)
      }.distinct
      val buckets = pairs.map(_._1).distinct
        .map(t => bucketOf(t).getInt(0)).distinct.sorted
      (graft.functions.RequestTable(pairs, StringType, idType), buckets)
    }
  }

  private[engine] object QueryText {

    /** ONE collect of the query ids and their tokens. */
    def collect(queries: DataFrame, queryTextCol: String,
        queryIdCol: String): QueryText = {
      val q = queries.select(col(queryIdCol),
        Extensions.tokens(col(queryTextCol)))
      val idType = q.schema.head.dataType
      QueryText(Extensions.collectInternal(q).toSeq.map(r =>
        (if (r.isNullAt(0)) null else r.get(0, idType),
          if (r.isNullAt(1)) null else r.getArray(1))), idType)
    }
  }

  // ── the layout ───────────────────────────────────────────────────────

  /** The live root of the index at `path`, relative to it: the
    * [[Generations]] pointer target once [[compactSegments]] has run
    * (`segments-<n>`), `segments` before. Two plain layouts, written
    * before every index became segmented, read as ONE segment until a
    * compaction migrates them: a published `plain-<n>` generation, and
    * the legacy flat root (`postings` and `stats` at the index path,
    * no pointer), named "" here. */
  private def liveRoot(path: String): String =
    Generations.currentName(path).getOrElse(
      if (Generations.exists(s"$path/stats")) "" else "segments")

  private def isPlain(root: String): Boolean = !root.startsWith("segments")

  private def rootDir(path: String, root: String): String =
    if (root.isEmpty) path else s"$path/$root"

  /** The committed segment directories under `root` ([[liveRoot]]), in
    * name order; a plain root is its own single segment. A directory
    * without `stats` — the segment's commit point — is a crashed append
    * that its retry restages, and no read sees it. */
  private def segmentDirs(path: String, root: String): Seq[String] = {
    val dir = rootDir(path, root)
    // directories only: the root also carries the compaction manifests
    val dirs = (if (isPlain(root)) Seq(dir)
      else Generations.dirNames(dir).map(d => s"$dir/$d"))
      .filter(d => Generations.exists(s"$d/stats"))
    require(dirs.nonEmpty, s"no committed segments under $path")
    dirs
  }

  /** The live segment directories of the index at `path`. */
  private[graft] def segmentDirs(path: String): Seq[String] =
    segmentDirs(path, liveRoot(path))

  // ── take-down deletes ────────────────────────────────────────────────

  /** Commit a take-down DELETE of document ids against a saved index.
    *
    * Commit shape (staged ids, then marker — [[Generations.DeleteSet]]):
    * the id list stages as `deletes/<name>/` parquet FIRST; the marker
    * `_deletes/<name>` lands LAST and carries the delete's exact
    * statistics correction as content — `<nDocs>|<sumDl>` of the docs
    * actually present and not already deleted. Computing the
    * correction costs one postings scan at delete time (deletes are
    * rare; the scan is the price of keeping nDocs/sumDl EXACT, which
    * is what buys the never-ingested score-equality law). A committed
    * name replays as a no-op; re-using a deleted id later is outside
    * the contract (permanent take-down).
    *
    * From the commit on, loads exclude the ids and correct df, nDocs
    * and sumDl exactly (scores equal a never-ingested twin bit for
    * bit). Removal is LOGICAL until the next [[compactSegments]], which
    * drops the postings physically and retires the applied epochs after
    * one grace generation.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, name: String): Unit = {
    val dels = deleteSet(path)
    if (dels.isCommitted(name)) return // committed replay: no-op
    // a crash between staging a marker and its rename strands the
    // staging file; a retry under a DIFFERENT name never overwrites it
    dels.reclaim()
    val idx = loadSegments(spark, path)
    val docCol = idx.idCol
    val fresh = ids.select(col(idCol).as("__del_id")).distinct()
    // exclude ids an EARLIER delete already committed: their postings
    // are already excluded (or physically gone), and counting them
    // again would double-subtract the stats corrections
    val newIds = idx.deleted match {
      case None      => fresh
      case Some(old) => fresh.join(old, Seq("__del_id"), "left_anti")
    }
    // the correction counts only docs PRESENT in the postings —
    // deleting an absent id is a no-op in every statistic. (id, dl) is
    // unique per doc (dl is denormalized onto each posting; a doc
    // lives in exactly one segment by the append contract).
    dels.commit(name, newIds, {
      val st = idx.postings
        .join(newIds.withColumnRenamed("__del_id", docCol),
          Seq(docCol), "left_semi")
        .select(col(docCol), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
        .collect().head
      s"${st.getLong(0)}|${st.getLong(1)}"
    })
  }

  /** Delete-epoch names `root` has already applied PHYSICALLY (its
    * `_dels_applied` manifest): excluded from every logical filter and
    * stats correction, retired one grace generation later. */
  private def appliedDeletes(path: String, root: String): Set[String] =
    Generations.readLines(s"${rootDir(path, root)}/_dels_applied").toSet

  /** Committed UNAPPLIED delete epochs: (name, nDocs corr, sumDl corr).
    * A marker whose ids dir is missing is skipped (the mid-retire
    * window — ids already physically gone). */
  private def deleteEntries(path: String,
      root: String): Seq[(String, Long, Long)] = {
    val dels = deleteSet(path)
    val names = dels.names
    if (names.isEmpty) Seq.empty
    else names.filterNot(appliedDeletes(path, root)).map { n =>
      val parts = dels.content(n).split('|')
      require(parts.length == 2, s"corrupt delete marker $path/_deletes/$n")
      (n, parts(0).toLong, parts(1).toLong)
    }
  }

  // ── writing ──────────────────────────────────────────────────────────

  /** Segment names `root`'s compaction folded into its merged segment
    * (`_segs_folded` manifest) — an append replaying one of these names
    * must refuse, not re-index (their rows live inside the compacted
    * segment now). Empty before any compaction. FILE ORDER is fold
    * order (oldest first — compactions append new names at the tail),
    * which is what lets `retainFolded` drop from the head. */
  private def foldedSegments(path: String, root: String): Seq[String] =
    Generations.readLines(s"${rootDir(path, root)}/_segs_folded")

  /** The one segment writer ([[appendSegment]], [[saveNew]],
    * [[compactSegments]]): the live postings partitioned by term
    * bucket, then the stats row — the segment's commit point (a segment
    * directory without stats is a crashed half-write). Caches nothing.
    */
  private def writeSegment(idx: SegmentedTextIndex, seg: String): Unit = {
    require(idx.nDocs > 0, s"no documents to write to $seg")
    Generations.writePartitioned(idx.livePostings, "__bucket",
      "errorifexists", s"$seg/postings")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    Seq((idx.nDocs, idx.sumDl, idx.nBuckets, idx.idCol)).toDF(
        "n_docs", "sum_dl", "n_buckets", "id_col")
      .write.options(Generations.LayoutWrite)
      .mode("errorifexists").parquet(s"$seg/stats")
  }

  /** [[SegmentedTextIndex#save]]: one segment, `base`, at a path that
    * holds no index (a crashed earlier attempt — a segment without
    * stats — is restaged). */
  private[engine] def saveNew(idx: SegmentedTextIndex, path: String): Unit = {
    val committed = Generations.currentName(path).isDefined ||
      Generations.exists(s"$path/stats") ||
      Generations.dirNames(s"$path/segments")
        .exists(d => Generations.exists(s"$path/segments/$d/stats"))
    require(!committed, s"$path already holds a text index: save writes " +
      "a new one; appendSegment grows an index, compactSegments " +
      "rewrites one")
    Generations.delete(s"$path/segments")
    writeSegment(idx, s"$path/segments/base")
  }

  /** Append one corpus snapshot as a new immutable segment under the
    * live segment root. Documents must be NEW ids (segments never
    * overwrite; dedup upstream — see the incremental dedup ops).
    * `nBuckets` must match across segments (validated on load). A
    * plain layout takes appends once [[compactSegments]] has migrated
    * it.
    *
    * Returns false on a replay: a `segmentName` whose segment is
    * already fully written (stats dir present), or one a compaction
    * has since FOLDED into its merged segment (`_segs_folded` —
    * without this check a checkpoint replay straddling an
    * auto-compaction would re-index the folded batch as a fresh
    * segment and double-count every document, the
    * [[SemanticStore.ingest]] folded-name refusal twin). A committed
    * name offered DIFFERENT documents fails loudly: the batch's
    * (n_docs, sum_dl) — a pure function of the batch — must reproduce
    * the committed stats. A segment dir WITHOUT stats is a crashed
    * half-write — unpublished by construction — and is deleted and
    * restaged.
    *
    * `compactEvery` bounds the segment count the way
    * [[SemanticStore.ingest]]'s twin knob bounds epochs: once this
    * append brings the live segment count to the threshold,
    * [[compactSegments]] runs before returning. Each query probes one
    * bucket directory PER SEGMENT, so an unbounded per-micro-batch
    * append stream pays a linearly growing open-and-merge tax. 0 =
    * never (the default). `retainFolded` forwards to
    * [[compactSegments]]'s manifest horizon (see its doc for the
    * replay contract); 0 = keep every folded name.
    */
  def appendSegment(docs: DataFrame, textCol: String, idCol: String,
      path: String, segmentName: String, nBuckets: Int = 64,
      compactEvery: Int = 0, retainFolded: Int = 0): Boolean = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = docs.sparkSession
    val root = liveRoot(path)
    require(!isPlain(root), s"$path holds a plain layout: " +
      "compactSegments migrates it to segments before appends")
    if (foldedSegments(path, root).contains(segmentName)) return false
    val seg = s"$path/$root/$segmentName"
    val idx = build(docs.select(col(idCol), col(textCol)), textCol, idCol,
      nBuckets)
    if (Generations.exists(s"$seg/stats")) {
      // a FOLDED name can't be checked (its rows merged away) — the
      // immutable-name contract is all that guards that path
      val st = Generations.scan(Seq(s"$seg/stats")).collect().head
      val (n, s) = (st.getLong(st.fieldIndex("n_docs")),
        st.getLong(st.fieldIndex("sum_dl")))
      require(idx.nDocs == n && idx.sumDl == s,
        s"segment name '$segmentName' is already committed with " +
          s"DIFFERENT documents (committed n_docs=$n/sum_dl=$s, this " +
          s"batch ${idx.nDocs}/${idx.sumDl}) — segment names are " +
          "immutable; use a fresh name for a new snapshot")
      return false
    }
    Generations.delete(seg) // a crashed half-write, if any
    writeSegment(idx, seg)
    if (compactEvery > 0 && segmentDirs(path, root).length >= compactEvery)
      compactSegments(spark, path, retainFolded)
    true
  }

  // ── reading ──────────────────────────────────────────────────────────

  /** Open the index at `path`: every live segment as one queryable
    * index, its bucket partitions pruned at the file level by queries.
    * Global corpus stats are the sums of the per-segment stats (exact —
    * doc sets are disjoint by the append contract), minus the exact
    * corrections of the committed deletes the live root has not applied
    * ([[deleteEntries]]). A plain layout reads as one segment, its
    * stored `df` column ignored (`df` is counted at query time like
    * every segment's).
    */
  def loadSegments(spark: SparkSession, path: String): SegmentedTextIndex = {
    val root = liveRoot(path)
    openSegments(spark, path, segmentDirs(path, root),
      deleteEntries(path, root))
  }

  /** [[loadSegments]]. */
  def load(spark: SparkSession, path: String): SegmentedTextIndex =
    loadSegments(spark, path)

  /** [[loadSegments]] over a resolved segment list and delete set: one
    * collect of every segment's stats row, and one scan of every
    * segment's postings. The delete ids are read from the names the
    * caller resolved, so a delete committing in between cannot exclude
    * ids whose stats were not corrected. */
  private def openSegments(spark: SparkSession, path: String,
      segDirs: Seq[String], dels: Seq[(String, Long, Long)])
      : SegmentedTextIndex = {
    val stats = Generations.scan(segDirs.map(d => s"$d/stats")).collect()
    def field[T](name: String): Seq[T] =
      stats.toSeq.map(st => st.getAs[T](st.fieldIndex(name)))
    val buckets = field[Int]("n_buckets").distinct
    require(buckets.length == 1,
      s"segments disagree on n_buckets: ${buckets.mkString(", ")}")
    val idCols = field[String]("id_col").distinct
    require(idCols.length == 1,
      s"segments disagree on id column: ${idCols.mkString(", ")}")
    // a plain layout's stored df is ignored: df is counted at query time
    val postings = Generations.scan(segDirs.map(d => s"$d/postings"),
      Some("__bucket")).drop("df")
    new SegmentedTextIndex(
      field[Long]("n_docs").sum - dels.map(_._2).sum,
      field[Long]("sum_dl").sum - dels.map(_._3).sum,
      postings, idCols.head, buckets.head,
      deleteSet(path).ids(dels.map(_._1)))
  }

  /** Merge every live segment into ONE — the maintenance job a
    * per-micro-batch append stream needs, or small segments accumulate
    * forever (a query probes one bucket directory PER SEGMENT) — and
    * the physical removal of committed deletes. Query results are
    * bit-identical across compaction: postings carry only per-document
    * facts (tf, dl) whose union is layout-free, and the summed global
    * stats are unchanged. A plain layout is migrated: its one segment
    * is rewritten under `segments-1`.
    *
    * Protocol is audit-then-flip on a segment-ROOT generation: the
    * merged segment stages under a fresh `segments-<n>` root, is
    * audited against the live posting count, and the [[Generations]]
    * pointer flip is the commit — readers resolve the pointer and never
    * see a half-compacted set. The sweep keeps TWO roots (the same
    * grace window mergeSink's `retainGenerations = 2` default gives):
    * a reader that resolved the old root just before the flip finishes
    * its query against intact files; the root it read is collected on
    * the NEXT compaction, by which point the flip it straddled is long
    * visible. Single-maintenance-writer contract (appends racing a
    * compaction can land in the superseded root).
    *
    * Deletes: the ones committed when the compaction resolves the
    * layout are applied and recorded in the new root's `_dels_applied`;
    * from the flip on they stop filtering and correcting stats, and
    * their epoch dirs retire one compaction later. A delete committed
    * while the compaction runs is not in the manifest, so it stays a
    * live exclusion of the compacted segment.
    *
    * `retainFolded` bounds the `_segs_folded` replay-refusal manifest:
    * keep at most that many folded names — always ALL of this merge's
    * own names (a replay straddling THIS compaction is the live hazard)
    * plus the newest tail of the carried names up to the budget. 0
    * (default) keeps every name forever — fully sound, but a
    * per-micro-batch stream folding for months grows the manifest and
    * every append's read of it without bound. Setting it is a
    * CONTRACT: the caller asserts its checkpoint can only redeliver
    * batches younger than the retained horizon (Structured Streaming
    * redelivers at/after the last committed offset — sinks folding
    * every `compactEvery` batches are safe with any retainFolded ≥
    * compactEvery; the sinks pass 4× for margin). A replay OLDER than
    * the horizon would re-index its batch as a fresh segment.
    * Returns true when a merge happened (false = already compact).
    */
  def compactSegments(spark: SparkSession, path: String,
      retainFolded: Int = 0): Boolean = {
    val oldRoot = liveRoot(path)
    val segDirs = segmentDirs(path, oldRoot)
    // committed unapplied deletes are compaction WORK: even a single-
    // segment index compacts to realize them physically
    val dels = deleteEntries(path, oldRoot)
    if (segDirs.length == 1 && dels.isEmpty && !isPlain(oldRoot))
      return false
    // validates buckets + id column; nDocs/sumDl are already NET of the
    // unapplied deletes, so they are exactly the stats of the live
    // postings written below
    val idx = openSegments(spark, path, segDirs, dels)
    val liveCount = idx.livePostings.count()
    // bounded manifest: names whose epoch dirs an earlier grace cycle
    // already retired need no exclusion claim (deleteEntries skips
    // missing ids dirs)
    val del = deleteSet(path)
    val appliedBefore =
      appliedDeletes(path, oldRoot).intersect(del.markers.toSet)
    val nextGen =
      if (oldRoot.startsWith("segments-"))
        oldRoot.stripPrefix("segments-").toInt + 1
      else 1
    val newRoot = s"segments-$nextGen"
    // a crashed earlier attempt at this generation is unpublished by
    // construction (the pointer flip below is the only commit) —
    // delete and restage; without this, errorifexists wedges EVERY
    // future compaction on the leftover
    Generations.delete(s"$path/$newRoot")
    val seg = s"$path/$newRoot/compact-${"%06d".format(nextGen)}"
    writeSegment(idx, seg)
    // audit ON THE WRITTEN FILES before the flip (write corruption
    // would survive a df-side check)
    val written = Generations.scan(Seq(s"$seg/postings"), Some("__bucket"))
      .count()
    require(written == liveCount,
      s"compaction audit failed: wrote $written postings, live $liveCount")
    if (appliedBefore.nonEmpty || dels.nonEmpty)
      Generations.writeText(s"$path/$newRoot/_dels_applied",
        (appliedBefore ++ dels.map(_._1)).toSeq.sorted.mkString("\n"))
    // record every segment name this merge folded (carrying the old
    // root's manifest forward, the SemanticStore `_folded` rule): an
    // appendSegment replaying one of these names — a checkpoint
    // replay straddling the compaction — must refuse rather than
    // re-index the batch as a fresh segment. File order = fold order
    // (new names at the tail); retainFolded drops from the HEAD, never
    // below this merge's own names. A plain root folds no named
    // segment.
    locally {
      val own =
        if (isPlain(oldRoot)) Nil
        else segDirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
      val carried = foldedSegments(path, oldRoot).filterNot(own.contains)
      val kept =
        if (retainFolded <= 0) carried ++ own
        else carried.takeRight(math.max(0, retainFolded - own.length)) ++ own
      Generations.writeText(s"$path/$newRoot/_segs_folded",
        kept.mkString("\n"))
    }
    Generations.publish(path, newRoot)
    // sweep only generation roots: unfiltered, a recent deletes/ or
    // _deletes/ dir outranks the superseded root by mtime and the old
    // root loses its grace cycle (see Generations.retain)
    Generations.retain(path, keep = 2,
      n => n.startsWith("segments") || n.startsWith("plain-"))
    // a legacy flat root got the superseded generation's lifetime as
    // its grace cycle
    if (oldRoot.nonEmpty)
      Seq("postings", "stats").foreach(d => Generations.delete(s"$path/$d"))
    // retire delete epochs the PREVIOUS generation had applied — they
    // served their one grace cycle (a reader that resolved the old
    // root before the flip still filters through them; that root was
    // itself just swept by retain), then reclaim crash leftovers;
    // names retired by an earlier cycle no-op.
    del.retire(appliedBefore.toSeq.sorted)
    del.reclaim()
    true
  }

  /** A transient index over `docs`: one pass tokenizes the corpus into
    * postings (idCol, term, tf, dl, __bucket), computed on demand and
    * never cached; the corpus stats (documents, total length) are the
    * only values collected to the driver. [[SegmentedTextIndex#save]]
    * writes it as one segment.
    */
  def build(docs: DataFrame, textCol: String, idCol: String,
      nBuckets: Int = 64): SegmentedTextIndex = {
    require(nBuckets > 0, "nBuckets must be positive")
    val clash = docs.columns.toSet
      .intersect(Set("term", "tf", "dl", "df", "__bucket", "__contrib",
        "__score_int"))
    require(clash.isEmpty,
      s"input uses reserved internal column names: ${clash.mkString(", ")}")
    val tf = docs
      .select(col(idCol), explode(Extensions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val stats = dl
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
      .collect().head
    new SegmentedTextIndex(stats.getLong(0), stats.getLong(1),
      tf.join(dl, idCol).withColumn("__bucket", bucket(nBuckets)), idCol,
      nBuckets)
  }
}

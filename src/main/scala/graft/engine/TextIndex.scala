package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The query surface the plain ([[TextIndex]]) and segmented
  * ([[SegmentedTextIndex]]) layouts share — what hybrid serving
  * composes over ([[HybridIndex.queryByIds]]), so a streamed
  * segment-store serves through the same fused path as a batch-built
  * plain index (r18). Both implementations return the identical
  * (queryIdCol, idCol, bm25, rank) schema with bit-equal scores (the
  * TextIndexSpec layout-equivalence law).
  *
  * One scoring plan serves both layouts ([[scoresOf]]): the query
  * text is resolved on the driver ([[TextIndex.QueryText]]) into a
  * term → query-ids table bound BY REFERENCE ([[graft.functions
  * .RequestTable]]) and the bucket ids the terms hash to, computed by
  * the build's own bucket expression, analyzed once per handle. The
  * bucket ids prune the postings scan at the file level; each pruned
  * posting then takes its query ids from the table (one hash probe per
  * posting, whatever the batch's vocabulary) and the stream is keyed
  * by query from there on: one shuffle, after which `df`, the
  * (query, doc) sum and the top-k need no further exchange. */
trait Bm25Queryable {
  def nDocs: Long
  def sumDl: Long
  def idCol: String
  def nBuckets: Int

  /** The saved postings: (term, idCol, tf, dl, …, __bucket). */
  private[engine] def postings: DataFrame

  /** BM25 top-k per query; `queries` carries (queryIdCol,
    * queryTextCol). Output matches [[Extensions.bm25TopK]]:
    * (queryIdCol, idCol, bm25, rank). */
  def query(queries: DataFrame, queryTextCol: String, queryIdCol: String,
      k: Int = 10): DataFrame = {
    require(k > 0, "k must be positive")
    Extensions.bm25RankTail(scores(queries, queryTextCol, queryIdCol),
      queryIdCol, idCol, k)
  }

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
    * task holds all probed postings of one query. */
  private[engine] def scoresOf(text: TextIndex.QueryText, queryIdCol: String,
      excludeSelf: Boolean): DataFrame = {
    val (slots, buckets) = text.resolve(bucketOf)
    val byQuery = Window.partitionBy(queryIdCol, "term")
    val (live, carried, df, keep) = matched(
      postings.filter(Extensions.partitionIn("__bucket", buckets)), byQuery)
    val keyed = live.select((
        explode(graft.functions.RequestTable.lookup(col("term"), slots))
          .as(queryIdCol) +:
        (Seq(idCol, "term", "tf", "dl") ++ carried).map(col)): _*)
      .repartition(col(queryIdCol))
    val idf = log(lit(1.0) +
      (lit(nDocs.toDouble) - df + lit(0.5)) / (df + lit(0.5)))
    val fTf = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) +
        (lit(0.75) * col("dl")) / lit(sumDl.toDouble / nDocs)))
    val contrib = round(idf * fTf * lit(1000000.0)).cast("long")
      .as("__contrib")
    val scored = (keep ++ Option.when(excludeSelf)(
        col(idCol) =!= col(queryIdCol))).reduceOption(_ && _) match {
      case None => keyed.select(col(queryIdCol), col(idCol), contrib)
      case Some(k) => keyed
        .select(col(queryIdCol), col(idCol), contrib, k.as("__keep"))
        .filter(col("__keep"))
    }
    scored.groupBy(col(queryIdCol), col(idCol))
      .agg(sum("__contrib").as("__score_int"))
  }

  /** The layout's share of [[scoresOf]]: the live postings among the
    * pruned ones, the extra columns the rest reads, the per-(query,
    * term) document frequency over `byQuery`, and the condition a
    * posting must meet to score (None: every live one scores). */
  protected def matched(pruned: DataFrame, byQuery: WindowSpec)
      : (DataFrame, Seq[String], Column, Option[Column])
}

/** Build-once / query-many inverted text index — the persisted form of
  * [[Extensions.bm25TopK]], the way [[IvfIndex]] is the persisted form
  * of [[Extensions.annIvf]].
  *
  * The ad-hoc operator re-derives term frequencies, document lengths,
  * and document frequencies from the raw corpus on every call — fine
  * for one query batch, wasteful for a serving path. This index pays
  * that cost ONCE:
  *
  *   - '''build''': one corpus pass → posting lists
  *     (term, doc, tf, dl, df) with df/dl denormalized onto each
  *     posting (one extra long each buys join-free scoring at query
  *     time);
  *   - '''save''': postings parquet-partitioned by a term-hash bucket
  *     (`pmod(xxhash64(term), nBuckets)`), global stats beside them;
  *   - '''query''': the query vocabulary is tiny (distinct terms of
  *     the query batch), so it is resolved ONCE on the driver
  *     ([[TextIndex.QueryText]]: one collect of the query ids and
  *     their tokens, then the build's own bucket expression, analyzed
  *     once per handle). The term → query-ids table is bound into the
  *     plan by reference — data, never generated code — and only the
  *     bucket ids become literals, as a partition filter: on the saved
  *     layout the scan prunes to the matching bucket directories at the
  *     FILE level. A 100 TB posting store queried with 20 terms over
  *     256 buckets touches at most 20 bucket directories, not the
  *     whole store, and two requests compile the same code.
  *
  * Only query-derived term strings and bucket ids ever reach the
  * driver; postings stay on the executors. BM25 contributions are
  * accumulated in integer micro-units exactly like
  * [[Extensions.bm25TopK]], so the two paths return bit-identical
  * scores (TextIndexSpec pins that equivalence).
  */
final class TextIndex private[engine] (
    val nDocs: Long,
    val sumDl: Long,
    private[engine] val postings: DataFrame,
    val idCol: String,
    val nBuckets: Int,
    private[engine] val deleted: Option[DataFrame] = None,
    // where this instance was loaded from and which delete epochs its
    // deleted/nDocs/sumDl snapshot CONSUMED — what save() needs to
    // decide which target markers the staged layout actually realizes
    // (r18 review finding F1: a delete committed AFTER load is NOT
    // realized by this instance's postings, and claiming it applied
    // would resurrect the take-down)
    srcPath: Option[String] = None,
    consumedDeletes: Set[String] = Set.empty) extends Bm25Queryable {

  /** When the loaded layout carries committed take-down deletes
    * ([[TextIndex.delete]]), the deleted docs leave the result AND the
    * statistics, exactly: `nDocs`/`sumDl` were already adjusted at
    * load by the per-delete corrections, and the per-term `df` (a
    * build-time denormalized fact on each posting) is corrected at
    * query time by counting the deleted postings among the probed
    * terms — complete because a term's ENTIRE posting list lives in
    * one hash bucket, so the pruned scan sees every posting of every
    * probed term, deleted docs' included. Deleted ids are globally
    * DISTINCT ([[TextIndex.delete]] dedups them), so a left join with a
    * marker column keeps each posting once and marks the deleted ones;
    * they are counted, then dropped. Scores therefore equal a fresh
    * build over the surviving corpus bit for bit (the never-ingested
    * law, TextIndexSpec). Without deletes `df` is the stored column. */
  protected def matched(pruned: DataFrame, byQuery: WindowSpec)
      : (DataFrame, Seq[String], Column, Option[Column]) = deleted match {
    case None => (pruned, Seq("df"), col("df"), None)
    case Some(del) =>
      (pruned.join(del.select(col("__del_id").as(idCol), lit(1).as("__del")),
          Seq(idCol), "left"),
        Seq("df", "__del"), col("df") - count(col("__del")).over(byQuery),
        Some(col("__del").isNull))
  }

  /** Persist: postings partitioned by term-hash bucket + 1-row stats.
    * [[TextIndex.load]] reads it back with the layout intact.
    *
    * An index loaded WITH committed deletes saves the POST-delete
    * corpus: deleted docs' postings are dropped and each surviving
    * posting's denormalized `df` is corrected, so the written layout
    * equals a fresh build over the survivors — save() is the plain
    * layout's physical-removal path (the segmented layout's is
    * [[TextIndex.compactSegments]]).
    *
    * Protocol (VERDICT r17 #1 — the take-down resurrection window):
    * the layout stages as a fresh `plain-<n>` generation and the
    * [[Generations]] pointer flip is the single commit. The pre-r18
    * order cleared the target's delete epochs FIRST and then
    * overwrote postings in place, so a crash between the two — or
    * Spark's cannot-overwrite-read-path rejection of an in-place
    * re-save, which fired only AFTER the clear — left the OLD
    * postings with NO delete markers: a committed, legally-required
    * take-down silently resurrected. Now nothing at the target is
    * mutated before the flip; in-place re-save (`load(p).save(p)`) is
    * a supported operation because the staged generation never
    * collides with the directories the loaded frames read.
    *
    * The generation's `_dels_applied` manifest records which target
    * delete epochs the staged layout REALIZES (from the flip on they
    * stop filtering and stop correcting stats; their dirs retire one
    * grace cycle later, exactly the [[compactSegments]] protocol — a
    * reader that resolved the old generation just before the flip
    * keeps intact epoch files for the queries it has in flight).
    * Which ones those are depends on the target (r18 review finding
    * F1): on an in-place re-save, exactly the epochs THIS instance
    * consumed at load plus the already-applied carry — a delete
    * committed after the load is not in the staged postings and must
    * stay live; on any other target, every marker (they reference a
    * corpus the flip replaces wholesale).
    */
  def save(path: String): Unit = {
    val spark = postings.sparkSession
    import spark.implicits._
    val oldRoot = TextIndex.plainRoot(path)
    val nextGen =
      oldRoot.map(_.stripPrefix("plain-").toInt + 1).getOrElse(1)
    val newRoot = s"plain-$nextGen"
    // a crashed earlier attempt at this generation is unpublished by
    // construction (the pointer flip below is the only commit) —
    // delete and restage (the compactSegments restage rule)
    Generations.delete(s"$path/$newRoot")
    val livePostings = deleted match {
      case None => postings
      case Some(del) =>
        val delKeyed = del.withColumnRenamed("__del_id", idCol)
        val dfCorr = postings.join(delKeyed, Seq(idCol), "left_semi")
          .groupBy("term").agg(count(lit(1)).as("__df_del"))
        postings.join(delKeyed, Seq(idCol), "left_anti")
          .join(dfCorr, Seq("term"), "left")
          .withColumn("df",
            col("df") - coalesce(col("__df_del"), lit(0L)))
          .drop("__df_del")
    }
    Generations.writePartitioned(livePostings, "__bucket", "errorifexists",
      s"$path/$newRoot/postings")
    Seq((nDocs, sumDl, nBuckets, idCol)).toDF(
        "n_docs", "sum_dl", "n_buckets", "id_col")
      .write.mode("errorifexists").parquet(s"$path/$newRoot/stats")
    // names the OLD generation had already applied — their grace
    // cycle ends at this flip, retired below. Names retired by an
    // even earlier cycle have no marker left and drop out of the
    // manifest here (ADVICE r17: the carried-forever manifest grew
    // without bound; deleteEntries already skips missing ids dirs,
    // so a retired name needs no exclusion claim).
    val dels = TextIndex.deleteSet(path)
    val allMarkers = dels.markers.toSet
    val appliedBefore =
      TextIndex.appliedDeletes(spark, path).intersect(allMarkers)
    // which target markers does the STAGED layout actually realize?
    // In-place re-save (target == the path this instance was loaded
    // from): exactly the epochs the load consumed into
    // deleted/nDocs/sumDl, plus the already-applied carry — a delete
    // committed AFTER the load is NOT in the staged postings and must
    // STAY LIVE (claiming it applied would silently resurrect the
    // take-down against the stale instance: r18 review finding F1;
    // the staged stats never subtracted it, so keeping it live keeps
    // the arithmetic exact too). Any OTHER target's markers reference
    // a corpus this flip replaces wholesale: all inapplicable.
    // Path-normalized comparison ("dir/" vs "dir" must not flip an
    // in-place save into the claim-all branch)
    val inPlace = srcPath.exists(sp =>
      new org.apache.hadoop.fs.Path(sp).toString ==
        new org.apache.hadoop.fs.Path(path).toString)
    val realized =
      if (inPlace)
        (appliedBefore ++ consumedDeletes).intersect(allMarkers)
      else allMarkers
    if (realized.nonEmpty)
      Generations.writeText(s"$path/$newRoot/_dels_applied",
        realized.toSeq.sorted.mkString("\n"))
    Generations.publish(path, newRoot) // the commit point
    // retire (a) the epochs whose grace cycle just ended and (b) the
    // legacy flat layout's dirs once a generation beyond plain-1
    // supersedes them (they got plain-1's lifetime as THEIR grace);
    // reclaim crash leftovers — the same GC compactSegments runs
    dels.retire(appliedBefore.toSeq.sorted)
    if (oldRoot.isDefined)
      Seq(s"$path/postings", s"$path/stats").foreach(Generations.delete)
    dels.reclaim()
    Generations.retain(path, keep = 2, _.startsWith("plain-"))
  }
}

/** Segmented (incremental) variant of [[TextIndex]], Lucene-style: each
  * corpus snapshot is appended as an immutable SEGMENT — its postings
  * carry only segment-local facts (tf, dl), never global ones — and
  * query time derives the global document frequencies from the probed
  * postings themselves. That works because a term's ENTIRE posting
  * list lives in one hash bucket (the bucket function is deterministic
  * in the term), so bucket-pruned reading still sees every posting of
  * every probed term, across all segments.
  *
  * Trade vs [[TextIndex]]: no rebuild on append (the point), one extra
  * per-term count at query time (a window over the already-pruned
  * postings of the query terms). Scores are IDENTICAL to a fresh full
  * build (TextIndexSpec pins it).
  */
final class SegmentedTextIndex private[engine] (
    val nDocs: Long,
    val sumDl: Long,
    private[engine] val postings: DataFrame,
    val idCol: String,
    val nBuckets: Int,
    private[engine] val deleted: Option[DataFrame] = None) extends Bm25Queryable {

  /** Take-down deletes are simpler here than on the plain index: the
    * segmented layout derives `df` from the probed postings at query
    * time, so excluding deleted docs' postings BEFORE that count makes
    * the correction automatic — with `nDocs`/`sumDl` already adjusted
    * at load, scores equal a fresh build over the survivors bit for
    * bit (the never-ingested law). `df` is counted from the pruned
    * postings: complete per probed term because term → bucket is a
    * pure function. */
  protected def matched(pruned: DataFrame, byQuery: WindowSpec)
      : (DataFrame, Seq[String], Column, Option[Column]) = {
    val live = deleted match {
      case None => pruned
      case Some(del) => pruned.join(del.select(col("__del_id").as(idCol)),
        Seq(idCol), "left_anti")
    }
    (live, Nil, count(lit(1)).over(byQuery), None)
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

  /** Directory (relative to the index path) holding the LIVE segment
    * set: the [[Generations]] pointer target once [[compactSegments]]
    * has run, the original `segments` layout before. A `plain-<n>`
    * pointer (the plain layout's generational save, r18) never reaches
    * here — the plain/segmented split happens on the pointer prefix.
    */
  private def segmentsRoot(path: String): String =
    Generations.currentName(path).filter(_.startsWith("segments"))
      .getOrElse("segments")

  /** The live plain-layout generation root name (`plain-<n>`), or None
    * for a legacy flat layout (postings/stats at the index root) and
    * for segmented paths. */
  private[engine] def plainRoot(path: String): Option[String] =
    Generations.currentName(path).filter(_.startsWith("plain-"))

  /** Where the plain layout's `postings`/`stats` dirs live: the
    * published generation once a generational [[TextIndex#save save]]
    * has run, the index root for the legacy flat layout. */
  private[graft] def plainDataDir(path: String): String =
    plainRoot(path).map(r => s"$path/$r").getOrElse(path)

  // ── take-down deletes (VERDICT r16 #2) ───────────────────────────────

  /** Commit a take-down DELETE of document ids against a saved index —
    * plain ([[TextIndex.load]]) or segmented ([[loadSegments]]) layout.
    * The missing half of the store's take-down story until r17: the
    * vector side ([[IvfIndex.delete]] / [[SemanticStore.delete]])
    * honored deletions while a deleted doc kept ranking in BM25 and
    * hybrid results and kept inflating df/avgdl.
    *
    * Commit shape (the proven staged-ids-then-marker protocol): the id
    * list stages as `deletes/<name>/` parquet FIRST; the marker
    * `_deletes/<name>` lands LAST and carries the delete's exact
    * statistics correction as content — `<nDocs>|<sumDl>` of the docs
    * actually present and not already deleted — staged outside
    * `_deletes` and renamed in, one atomic metadata op, because a torn
    * content write would otherwise be read as a committed delete with
    * garbage stats (the compact-manifest lesson). Computing the
    * correction costs one postings scan at delete time (deletes are
    * rare; the scan is the price of keeping nDocs/sumDl EXACT, which
    * is what buys the never-ingested score-equality law). A committed
    * name replays as a no-op; re-using a deleted id later is outside
    * the contract (permanent take-down).
    *
    * Effect from the commit on: both query paths exclude the ids and
    * correct df/nDocs/sumDl exactly (scores equal a never-ingested
    * twin bit for bit). Removal is LOGICAL until the next
    * [[compactSegments]] (segmented) or re-[[TextIndex#save save]]
    * (plain), which drop the postings physically and retire the
    * applied epochs after one grace generation.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, name: String): Unit = {
    val dels = deleteSet(path)
    if (dels.isCommitted(name)) return // committed replay: no-op
    // a crash between staging a marker and its rename strands the
    // staging file; a retry under a DIFFERENT name never overwrites it
    dels.reclaim()
    val postings = allPostings(spark, path)
    val docCol = savedIdCol(spark, path)
    val fresh = ids.select(col(idCol).as("__del_id")).distinct()
    // exclude ids an EARLIER delete already committed: their postings
    // are already excluded (or physically gone), and counting them
    // again would double-subtract the stats corrections
    val prior = deleteEntries(spark, path).map(_._1)
    val newIds = deletedIdsDf(spark, path, prior) match {
      case None      => fresh
      case Some(old) => fresh.join(old, Seq("__del_id"), "left_anti")
    }
    // the correction counts only docs PRESENT in the live postings —
    // deleting an absent id is a no-op in every statistic. (id, dl) is
    // unique per doc (dl is denormalized onto each posting; a doc
    // lives in exactly one segment by the append contract).
    dels.commit(name, newIds, {
      val st = postings
        .join(newIds.withColumnRenamed("__del_id", docCol),
          Seq(docCol), "left_semi")
        .select(col(docCol), col("dl")).distinct()
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
        .collect().head
      s"${st.getLong(0)}|${st.getLong(1)}"
    })
  }

  /** The live postings union regardless of layout — plain (the
    * published `plain-<n>` generation, or the legacy flat root) or
    * segmented (every live segment's). The pointer is resolved FIRST:
    * after a generational save over a legacy layout, the superseded
    * flat `postings` dir lingers one grace cycle and must not be
    * mistaken for the live corpus. */
  private def allPostings(spark: SparkSession, path: String): DataFrame = {
    val plain = plainDataDir(path)
    // driver-side partition discovery (opt r19, §6 — the IvfIndex
    // cellsOf rationale): bucket-partitioned dirs past Spark's 32-path
    // default otherwise pay a distributed listing job per open
    Extensions.withDriverListing(spark) {
      if (Generations.exists(s"$plain/postings"))
        spark.read.parquet(s"$plain/postings")
      else segmentDirs(path).map(d =>
        spark.read.parquet(s"$d/postings")).reduce(_.unionByName(_))
    }
  }

  /** The saved layout's document id column, from its own stats (plain
    * layout: the live generation's `stats`; segmented: any segment's —
    * load validates they agree). */
  private def savedIdCol(spark: SparkSession, path: String): String = {
    val plain = plainDataDir(path)
    val statsPath =
      if (Generations.exists(s"$plain/stats"))
        s"$plain/stats"
      else s"${segmentDirs(path).head}/stats"
    val st = spark.read.parquet(statsPath).collect().head
    st.getString(st.fieldIndex("id_col"))
  }

  /** Delete-epoch names the CURRENT published root — segment root or
    * plain generation — has already applied PHYSICALLY (its
    * `_dels_applied` manifest): excluded from every logical filter and
    * stats correction, retired one grace generation later. Legacy flat
    * layouts (and pre-compaction segmented ones) have no manifest:
    * empty. */
  private[engine] def appliedDeletes(spark: SparkSession,
      path: String): Set[String] = {
    val root = plainRoot(path).getOrElse(segmentsRoot(path))
    Generations.readLines(s"$path/$root/_dels_applied").toSet
  }

  /** Committed UNAPPLIED delete epochs: (name, nDocs corr, sumDl corr).
    * A marker whose ids dir is missing is skipped (the mid-retire
    * window — ids already physically gone). */
  private def deleteEntries(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val dels = deleteSet(path)
    val names = dels.names
    if (names.isEmpty) Seq.empty
    else names.filterNot(appliedDeletes(spark, path)).map { n =>
      val parts = dels.content(n).split('|')
      require(parts.length == 2, s"corrupt delete marker $path/_deletes/$n")
      (n, parts(0).toLong, parts(1).toLong)
    }
  }

  /** Whether committed take-down deletes exist that no generation has
    * physically realized yet — i.e. whether a maintenance pass has
    * pending physical-removal work ([[HybridIndex.compact]]'s plain-
    * layout trigger). */
  private[engine] def hasUnappliedDeletes(spark: SparkSession,
      path: String): Boolean = deleteEntries(spark, path).nonEmpty

  /** Whether `path` holds the plain layout (a published `plain-<n>`
    * generation or the legacy flat root) as opposed to the segmented
    * one. */
  private[engine] def isPlainLayout(spark: SparkSession,
      path: String): Boolean =
    Generations.exists(s"${plainDataDir(path)}/postings")

  /** The ids of the unapplied deletes `names` ([[deleteEntries]]) as
    * one `__del_id` frame; None when there are none (the common case —
    * query paths add no plan step). Callers pass the names they
    * resolved, so one load reads one delete set: a delete committing
    * in between cannot exclude ids whose stats were not corrected. */
  private def deletedIdsDf(spark: SparkSession, path: String,
      names: Seq[String]): Option[DataFrame] =
    if (names.isEmpty) None
    else Some(spark.read
      .parquet(names.map(deleteSet(path).idsPath): _*)
      .distinct())

  /** Segment names the current root's compaction folded into its
    * merged segment (`_segs_folded` manifest) — an append replaying
    * one of these names must refuse, not re-index (their rows live
    * inside the compacted segment now). Empty before any compaction.
    * FILE ORDER is fold order (oldest first — compactions append new
    * names at the tail), which is what lets `retainFolded` drop from
    * the head. */
  private def foldedSegmentsOrdered(spark: SparkSession,
      path: String): Seq[String] =
    Generations.readLines(s"$path/${segmentsRoot(path)}/_segs_folded")

  private def foldedSegments(spark: SparkSession,
      path: String): Set[String] =
    foldedSegmentsOrdered(spark, path).toSet

  /** Append one corpus snapshot as a new immutable segment under the
    * live segment root. Documents must be NEW ids (segments never
    * overwrite; dedup upstream — see the incremental dedup ops).
    * `nBuckets` must match across segments (validated on load).
    *
    * Returns false on a replay: a `segmentName` whose segment is
    * already fully written (stats dir present — stats land last, the
    * segment's commit point), or one a compaction has since FOLDED
    * into its merged segment (`_segs_folded` — without this check a
    * checkpoint replay straddling an auto-compaction would re-index
    * the folded batch as a fresh segment and double-count every
    * document, the [[SemanticStore.ingest]] folded-name refusal
    * twin; r18 review finding). A segment dir WITHOUT stats is a
    * crashed half-write — unpublished by construction — and is
    * deleted and restaged.
    *
    * `compactEvery` (VERDICT r17 #2b) bounds the segment count the
    * way [[SemanticStore.ingest]]'s twin knob bounds epochs: once
    * this append brings the live segment count to the threshold,
    * [[compactSegments]] runs before returning. Each query probes one
    * bucket directory PER SEGMENT, so an unbounded per-micro-batch
    * append stream pays a linearly growing open-and-merge tax — the
    * text twin of the measured ~5×-over-40-epochs store curve. 0 =
    * never (the default). `retainFolded` forwards to
    * [[compactSegments]]'s manifest horizon (see its doc for the
    * replay contract); 0 = keep every folded name.
    */
  def appendSegment(docs: DataFrame, textCol: String, idCol: String,
      path: String, segmentName: String, nBuckets: Int = 64,
      compactEvery: Int = 0, retainFolded: Int = 0): Boolean = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    if (foldedSegments(spark, path).contains(segmentName)) return false
    val seg = s"$path/${segmentsRoot(path)}/$segmentName"
    if (Generations.exists(s"$seg/stats")) {
      // committed replay: no-op — but verify the refused batch IS a
      // redelivery, not a caller naming bug reusing the name for a
      // different corpus snapshot, which would otherwise drop the
      // documents silently (r18 review finding F3; the pre-r18
      // errorifexists at least threw). One tokenize+agg on this rare
      // path buys the (n_docs, sum_dl) fingerprint — same-data
      // redelivery reproduces it exactly (the stats are a pure
      // function of the batch), different data virtually never does.
      // A FOLDED name can't be checked (its rows merged away) — the
      // immutable-name contract is all that guards that path.
      val st = spark.read.parquet(s"$seg/stats").collect().head
      val fp = docs
        .select(col(idCol),
          explode(Extensions.tokens(col(textCol))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"))
        .collect().head
      require(fp.getLong(0) == st.getLong(st.fieldIndex("n_docs")) &&
        fp.getLong(1) == st.getLong(st.fieldIndex("sum_dl")),
        s"segment name '$segmentName' is already committed with " +
          s"DIFFERENT documents (committed n_docs=" +
          s"${st.getLong(st.fieldIndex("n_docs"))}/sum_dl=" +
          s"${st.getLong(st.fieldIndex("sum_dl"))}, this batch " +
          s"${fp.getLong(0)}/${fp.getLong(1)}) — segment names are " +
          "immutable; use a fresh name for a new snapshot")
      return false
    }
    Generations.delete(seg) // a crashed half-write, if any
    val tf = docs
      .select(col(idCol), explode(Extensions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val postings = tf.join(dl, idCol)
      .withColumn("__bucket", bucket(nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Generations.writePartitioned(postings, "__bucket", "errorifexists",
      s"$seg/postings")
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("s"))
      .collect().head
    Seq((stats.getLong(0), stats.getLong(1), nBuckets, idCol)).toDF(
        "n_docs", "sum_dl", "n_buckets", "id_col")
      .write.mode("errorifexists").parquet(s"$seg/stats")
    postings.unpersist()
    if (compactEvery > 0 && segmentDirs(path).length >= compactEvery)
      compactSegments(spark, path, retainFolded)
    true
  }

  /** The live segment directories, in name order. */
  private def segmentDirs(path: String): Seq[String] = {
    val root = s"$path/${segmentsRoot(path)}"
    // directories only: the root also carries the compaction manifests
    val dirs = Generations.dirNames(root)
    require(dirs.nonEmpty, s"no segments under $path")
    dirs.map(d => s"$root/$d")
  }

  /** Open all segments under `path` as one queryable index; global
    * corpus stats are the sums of the per-segment stats (exact — doc
    * sets are disjoint by the append contract), minus the exact
    * corrections of any committed unapplied deletes.
    */
  def loadSegments(spark: SparkSession, path: String): SegmentedTextIndex =
    openSegments(spark, path, segmentDirs(path), deleteEntries(spark, path))

  /** [[loadSegments]] over a resolved segment list and delete set. */
  private def openSegments(spark: SparkSession, path: String,
      segDirs: Seq[String], dels: Seq[(String, Long, Long)])
      : SegmentedTextIndex = {
    val stats = segDirs.map(d =>
      spark.read.parquet(s"$d/stats").collect().head)
    val buckets = stats.map(_.getInt(2)).distinct
    require(buckets.length == 1,
      s"segments disagree on n_buckets: ${buckets.mkString(", ")}")
    val idCols = stats.map(_.getString(3)).distinct
    require(idCols.length == 1,
      s"segments disagree on id column: ${idCols.mkString(", ")}")
    val postings = segDirs.map(d =>
      spark.read.parquet(s"$d/postings")).reduce(_.unionByName(_))
    new SegmentedTextIndex(
      stats.map(_.getLong(0)).sum - dels.map(_._2).sum,
      stats.map(_.getLong(1)).sum - dels.map(_._3).sum,
      postings, idCols.head, buckets.head,
      deletedIdsDf(spark, path, dels.map(_._1)))
  }

  /** Merge every live segment into ONE — the maintenance job a
    * per-micro-batch append stream needs, or small segments accumulate
    * forever (a query probes one bucket directory PER SEGMENT).
    * Query results are bit-identical across compaction: postings carry
    * only per-document facts (tf, dl) whose union is layout-free, and
    * the summed global stats are unchanged.
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
    * `retainFolded` (r18 review finding F4) bounds the `_segs_folded`
    * replay-refusal manifest: keep at most that many folded names —
    * always ALL of this merge's own names (a replay straddling THIS
    * compaction is the live hazard) plus the newest tail of the
    * carried names up to the budget. 0 (default) keeps every name
    * forever — fully sound, but a per-micro-batch stream folding for
    * months grows the manifest and every append's read of it without
    * bound. Setting it is a CONTRACT: the caller asserts its
    * checkpoint can only redeliver batches younger than the retained
    * horizon (Structured Streaming redelivers at/after the last
    * committed offset — sinks folding every `compactEvery` batches
    * are safe with any retainFolded ≥ compactEvery; the sinks pass
    * 4× for margin). A replay OLDER than the horizon would re-index
    * its batch as a fresh segment.
    * Returns true when a merge happened (false = already compact).
    */
  def compactSegments(spark: SparkSession, path: String,
      retainFolded: Int = 0): Boolean = {
    val segDirs = segmentDirs(path)
    // committed unapplied deletes are compaction WORK: even a single-
    // segment index compacts to realize them physically (the segmented
    // layout's only physical-removal path)
    val dels = deleteEntries(spark, path)
    if (segDirs.length == 1 && dels.isEmpty) return false
    // validates buckets + id column
    val idx = openSegments(spark, path, segDirs, dels)
    // idx.nDocs/sumDl are already NET of the unapplied deletes (exact
    // per-delete corrections), so they are exactly the stats of the
    // filtered postings staged below
    val rawPostings = segDirs.map(d =>
      spark.read.parquet(s"$d/postings")).reduce(_.unionByName(_))
    val postings = deletedIdsDf(spark, path, dels.map(_._1)) match {
      case None      => rawPostings
      case Some(del) => rawPostings.join(
        del.withColumnRenamed("__del_id", idx.idCol),
        Seq(idx.idCol), "left_anti")
    }
    val liveCount = postings.count()
    val oldRoot = segmentsRoot(path)
    // bounded manifest (ADVICE r17): names whose epoch dirs an earlier
    // grace cycle already retired need no exclusion claim
    // (deleteEntries skips missing ids dirs) — carrying them forever
    // grew the manifest and the retire loop without bound
    val del = deleteSet(path)
    val appliedBefore =
      appliedDeletes(spark, path).intersect(del.markers.toSet)
    val nextGen = if (oldRoot == "segments") 1
      else oldRoot.stripPrefix("segments-").toInt + 1
    val newRoot = s"segments-$nextGen"
    // a crashed earlier attempt at this generation is unpublished by
    // construction (the pointer flip below is the only commit) —
    // delete and restage; without this, errorifexists wedges EVERY
    // future compaction on the leftover (the IvfIndex.compactEpochs
    // restage rule, r16 heal)
    Generations.delete(s"$path/$newRoot")
    val seg = s"$path/$newRoot/compact-${"%06d".format(nextGen)}"
    Generations.writePartitioned(postings, "__bucket", "errorifexists",
      s"$seg/postings")
    import spark.implicits._
    Seq((idx.nDocs, idx.sumDl, idx.nBuckets, idx.idCol)).toDF(
        "n_docs", "sum_dl", "n_buckets", "id_col")
      .write.mode("errorifexists").parquet(s"$seg/stats")
    // audit ON THE WRITTEN FILES before the flip (write corruption
    // would survive a df-side check)
    val written = spark.read.parquet(s"$seg/postings").count()
    require(written == liveCount,
      s"compaction audit failed: wrote $written postings, live $liveCount")
    // record the deletes this generation realized physically (carrying
    // every previously applied name forward, the _folded rule): from
    // the flip on they stop filtering and stop correcting stats, even
    // while their epoch dirs await the grace-cycle retire below
    if (appliedBefore.nonEmpty || dels.nonEmpty)
      Generations.writeText(s"$path/$newRoot/_dels_applied",
        (appliedBefore ++ dels.map(_._1)).toSeq.sorted.mkString("\n"))
    // record every segment name this merge folded (carrying the old
    // root's manifest forward, the SemanticStore `_folded` rule): an
    // appendSegment replaying one of these names — a checkpoint
    // replay straddling the compaction — must refuse rather than
    // re-index the batch as a fresh segment (r18 review finding).
    // File order = fold order (new names at the tail); retainFolded
    // drops from the HEAD, never below this merge's own names.
    locally {
      val own = segDirs.map(d => new org.apache.hadoop.fs.Path(d).getName)
      val carried = foldedSegmentsOrdered(spark, path)
        .filterNot(own.contains)
      val kept =
        if (retainFolded <= 0) carried ++ own
        else carried.takeRight(math.max(0, retainFolded - own.length)) ++ own
      Generations.writeText(s"$path/$newRoot/_segs_folded",
        kept.mkString("\n"))
    }
    Generations.publish(path, newRoot)
    // sweep only segment roots: unfiltered, a recent deletes/ or
    // _deletes/ dir outranks the superseded root by mtime and the old
    // root loses its grace cycle (see Generations.retain)
    Generations.retain(path, keep = 2, _.startsWith("segments"))
    // retire delete epochs the PREVIOUS generation had applied — they
    // served their one grace cycle (a reader that resolved the old
    // root before the flip still filters through them; that root was
    // itself just swept by retain), then reclaim crash leftovers;
    // names retired by an earlier cycle no-op.
    del.retire(appliedBefore.toSeq.sorted)
    del.reclaim()
    true
  }

  /** One pass over the corpus: tokenize, per-doc term frequencies,
    * document lengths and frequencies denormalized onto each posting,
    * bucket by term hash. Global stats (corpus size, total length) are
    * the only values collected to the driver.
    */
  def build(docs: DataFrame, textCol: String, idCol: String,
      nBuckets: Int = 64): TextIndex = {
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
    // count(when(tf > 0, 1)) keeps this branch reusing tf's exchange —
    // see Extensions.bm25TopK for why count(lit(1)) forces a re-scan
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") > 0, 1)).as("df"))
    val postings = tf.join(dl, idCol).join(dfreq, "term")
      .withColumn("__bucket", bucket(nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("s"))
      .collect().head
    new TextIndex(stats.getLong(0), stats.getLong(1), postings, idCol,
      nBuckets)
  }

  /** Open a saved index; queries prune its bucket partitions at the
    * file level. Committed deletes load as the query-path exclusion +
    * the exact stats corrections — names the published generation's
    * `_dels_applied` manifest claims are already physically realized
    * in the loaded postings and are excluded from both
    * ([[deleteEntries]]). Reads the published `plain-<n>` generation
    * when one exists, the legacy flat root otherwise.
    */
  def load(spark: SparkSession, path: String): TextIndex = {
    val base = plainDataDir(path)
    val st = spark.read.parquet(s"$base/stats").collect().head
    val dels = deleteEntries(spark, path)
    new TextIndex(
      st.getLong(st.fieldIndex("n_docs")) - dels.map(_._2).sum,
      st.getLong(st.fieldIndex("sum_dl")) - dels.map(_._3).sum,
      Extensions.withDriverListing(spark)(
        spark.read.parquet(s"$base/postings")),
      st.getString(st.fieldIndex("id_col")),
      st.getInt(st.fieldIndex("n_buckets")),
      deletedIdsDf(spark, path, dels.map(_._1)),
      // save() needs to know which target markers this snapshot
      // realizes: exactly these names, at exactly this path — a
      // delete committed after this load stays live through an
      // in-place re-save (r18 review finding F1)
      srcPath = Some(path),
      consumedDeletes = dels.map(_._1).toSet)
  }
}

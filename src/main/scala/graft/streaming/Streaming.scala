package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Analytics, Generations}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Structured-Streaming twins of the batch event-time operators
  * (SURVEY.md §2.8 — absent from the reference, which has no streaming
  * code at all; this is north-star scope). The aggregations are defined
  * ONCE as plain DataFrame transforms and applied to either a batch or
  * a streaming source — the Spark-idiomatic way to keep the two paths
  * semantically identical (and how we test them against each other).
  */
object Streaming {

  /** Schema of the normalized events table (post Tables.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Tumbling 1-hour event-time windows per event_type. Works on batch
    * and streaming inputs alike; on a stream, pair with a watermark.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Event-time-windowed drift series — the streaming twin of
    * [[graft.engine.Analytics.driftSeries]]: every tumbling event-time
    * window's distribution of `binCol` (a precomputed 0..nBins-1 bin
    * id) is PSI-compared against a FROZEN reference histogram (the
    * training-window counts, driver-known literals — the
    * [[driftMonitorSink]] baseline made event-time-correct: windows
    * close on watermarks, not on micro-batch boundaries, so the series
    * is the same whether the day arrives in 3 batches or 300).
    *
    * Why one stateful op: the whole per-window histogram folds into
    * ONE windowed aggregation of nBins conditional sums (bounded state
    * per open window); the PSI arithmetic is then a stateless
    * projection against literal reference probabilities — streams
    * never need a second stateful pass, so this runs in append mode
    * with plain watermark semantics. Works on batch and streaming
    * inputs alike (the batch/stream equivalence law in StreamingSpec).
    * Per-bin terms micro-nat-quantized (the [[graft.engine.Analytics]]
    * drift-family convention) so totals are order-free longs.
    * Returns (window, n_cur, psi).
    */
  def driftSeriesWindowed(df: DataFrame, tsCol: String, binCol: String,
      refHist: Seq[Long], windowDuration: String): DataFrame = {
    val nBins = refHist.size
    require(nBins >= 2, "need a reference histogram with >= 2 bins")
    require(refHist.forall(_ >= 0), "reference counts must be >= 0")
    // same reserved-name guard as the batch twin Analytics.driftSeries
    // (ADVICE r13): a binCol or input column named __c*/__ncur/psi
    // would silently collide with the generated aggregation names
    val reserved = (0 until nBins).map(b => s"__c$b") ++
      Seq("__ncur", "psi")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"input uses reserved internal column name(s): ${clash.mkString(", ")}")
    val nRef = refHist.sum
    val aggs = (0 until nBins).map(b =>
      sum(when(col(binCol) === b, 1L).otherwise(0L)).as(s"__c$b"))
    val counts = df
      .groupBy(window(col(tsCol), windowDuration))
      .agg(aggs.head, aggs.tail: _*)
    val ncur = (0 until nBins).map(b => col(s"__c$b")).reduce(_ + _)
    val tms = (0 until nBins).map { b =>
      // the reference side is a plain Scala double literal — frozen at
      // plan time, identical in every window and every micro-batch
      val p = (refHist(b) + 1).toDouble / (nRef + nBins).toDouble
      val q = (col(s"__c$b") + 1).cast("double") /
        (col("__ncur") + nBins).cast("double")
      round((lit(p) - q) * log(lit(p) / q) * 1000000.0).cast("long")
    }
    counts
      .withColumn("__ncur", ncur)
      .withColumn("psi",
        tms.reduce(_ + _) / lit(1000000.0))
      .select(col("window"), col("__ncur").as("n_cur"), col("psi"))
  }

  /** 30-minute-gap session windows per user (the streaming-native
    * equivalent of Relational's lag+cumsum sessionize).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** File-source stream over a directory of normalized events parquet,
    * with a 10-minute watermark (reference-shaped default).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      .withWatermark("ts", "10 minutes")

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class SessionState(sessionId: Long, lastEpochS: Long)
  final case class SessionizedEvent(event_id: Long, user_id: Long,
      session_id: Long)

  /** Custom-state sessionization via flatMapGroupsWithState: assigns a
    * per-user session id that increments on >30-min gaps, carrying
    * (sessionId, lastSeen) as explicit keyed state. The stateful-stream
    * path for arbitrary per-key logic that `session_window` can't
    * express; on a bounded batch-as-stream it reproduces the relational
    * `sessionize` query's assignment (events must arrive in-order per
    * user, which a file-replay of the events table satisfies).
    */
  def statefulSessionize(events: Dataset[Event],
      gapSeconds: Long = 1800L): Dataset[SessionizedEvent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionizedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue))
          val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val epochS = e.ts.getTime / 1000
            if (st.lastEpochS != Long.MinValue &&
                epochS - st.lastEpochS > gapSeconds)
              st = SessionState(st.sessionId + 1, epochS)
            else st = SessionState(st.sessionId, epochS)
            SessionizedEvent(e.event_id, userId, st.sessionId)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Stream-stream (or batch) interval join: inner join on key with the
    * right row's time within ±`withinSeconds` of the left row's. On two
    * streams BOTH sides must carry watermarks (see [[eventStream]]) —
    * the time-range predicate is what lets Spark bound and expire the
    * join state instead of buffering both streams forever. Column names
    * must be disjoint (rename before joining, as with any self-join).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      withinSeconds: Long): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) -
          expr(s"INTERVAL $withinSeconds SECONDS") &&
        col(rightTime) <= col(leftTime) +
          expr(s"INTERVAL $withinSeconds SECONDS"))

  /** Input row of [[tokenBudgetAdmit]]. */
  case class Doc(doc_id: Long, source: String, n_tokens: Long)

  /** Output row of [[tokenBudgetAdmit]]: `running_tokens` is the
    * per-source admitted total INCLUDING this doc. */
  case class AdmittedDoc(doc_id: Long, source: String, n_tokens: Long,
      running_tokens: Long)

  /** Per-source token-budget admission on the Spark 4 arbitrary-state
    * API (`transformWithState`): each source key carries one
    * `ValueState[Long]` of tokens admitted so far, and a doc is
    * admitted while that counter is still below the budget (so the
    * budget may overshoot by at most one doc — the greedy quota rule).
    * State persists across micro-batches, which is the point: a corpus
    * streamed over many batches stops admitting mid-stream, exactly
    * where the same replay would stop again.
    *
    * Docs are processed in `doc_id` order WITHIN each (key, batch) —
    * deterministic for ordered replays; cross-batch arrival order is
    * the stream's own.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState does
    * not run on the default HDFS-backed store.
    */
  class TokenBudgetProcessor(budgetPerSource: Long)
      extends StatefulProcessor[String, Doc, AdmittedDoc] {
    @transient private var admitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      admitted = getHandle.getValueState[Long]("admitted",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[Doc],
        timerValues: TimerValues): Iterator[AdmittedDoc] = {
      var total = if (admitted.exists()) admitted.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
        if (total < budgetPerSource) {
          total += d.n_tokens
          Some(AdmittedDoc(d.doc_id, d.source, d.n_tokens, total))
        } else None
      }
      admitted.update(total)
      out.iterator
    }
  }

  /** Streaming training-data assembly: admit documents per source until
    * that source's token budget is spent (see [[TokenBudgetProcessor]]).
    */
  def tokenBudgetAdmit(docs: Dataset[Doc],
      budgetPerSource: Long): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new TokenBudgetProcessor(budgetPerSource),
        TimeMode.None(), OutputMode.Append())
  }

  /** Input row of [[ewmaStream]]: one finalized daily total per
    * (group, epoch day), value in integer micro-units (cents). */
  case class DailyValue(g: String, day: Long, v: Long)

  /** Output row of [[ewmaStream]]: the smoothed value in ORIGINAL units
    * (cents folded back by /100, mirroring the batch operator). */
  case class EwmaPoint(g: String, day: Long, ewma: Double)

  /** [[EwmaProcessor]]'s per-group state: last emitted day + EWMA in
    * cents. Public so the state encoder's generated code can reference
    * the class (a private class forces interpreter fallback). */
  case class EwmaState(day: Long, e: Double)

  /** The streaming twin of [[Analytics.ewmaSmooth]]'s recurrence:
    * per-group `ValueState` carries (last day, last EWMA in cents) and
    * each arriving daily total folds α·v + (1−α)·prev — the SAME
    * chain of double ops as the batch fold, so a series streamed over
    * any micro-batch split reproduces the batch output bit-for-bit
    * (spec-pinned). Within a batch, rows sort by day and same-day rows
    * sum first (mirroring the batch daily rollup); a day at or before
    * the state's frontier is DROPPED — the recurrence's value for an
    * already-emitted day is final, so late daily totals cannot be
    * folded in retroactively (feed finalized daily aggregates, e.g.
    * from a closed tumbling window).
    *
    * Dropped days are not silent (ADVICE r9): each one bumps the
    * `dropped` accumulator (when supplied), so a mis-fed pipeline —
    * non-finalized daily aggregates straddling micro-batches — is
    * OBSERVABLE from the driver instead of losing data invisibly
    * while emitting plausible output.
    *
    * The count is APPROXIMATE, an alarm rather than a ledger (ADVICE
    * r10): accumulator updates inside a stateful transformation are
    * not deduplicated by Spark, so task retries and speculative
    * execution can inflate it. Treat `dropped > 0` as the signal
    * (any violation is a contract bug upstream); do not reconcile
    * the exact value against row counts.
    */
  class EwmaProcessor(alpha: Double,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      extends StatefulProcessor[String, DailyValue, EwmaPoint] {
    private val beta = 1.0 - alpha
    @transient private var last: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[EwmaState]("last",
        Encoders.product[EwmaState], TTLConfig.NONE)

    override def handleInputRows(g: String, rows: Iterator[DailyValue],
        timerValues: TimerValues): Iterator[EwmaPoint] = {
      var st = if (last.exists()) last.get() else null
      val daily = rows.toSeq.groupBy(_.day).view
        .mapValues(_.map(_.v).sum).toSeq.sortBy(_._1)
      val out = daily.flatMap { case (day, v) =>
        if (st != null && day <= st.day) {
          dropped.foreach(_.add(1L)); None
        } else {
          val e = if (st == null) v.toDouble else alpha * v + beta * st.e
          st = EwmaState(day, e)
          Some(EwmaPoint(g, day, e / 100))
        }
      }
      if (st != null) last.update(st)
      out.iterator
    }
  }

  /** Streaming per-group EWMA over finalized daily totals (see
    * [[EwmaProcessor]]). RocksDB state store required, as for
    * [[tokenBudgetAdmit]]. Pass `dropped` (a driver-registered
    * LongAccumulator) to count frontier-violating daily totals the
    * recurrence must discard — the input-contract violation detector
    * (approximate under retries/speculation; see [[EwmaProcessor]]). */
  def ewmaStream(daily: Dataset[DailyValue], alpha: Double = 0.3,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    daily.groupByKey(_.g)
      .transformWithState(new EwmaProcessor(alpha, dropped),
        TimeMode.None(), OutputMode.Append())
  }

  /** Run a streaming aggregation to a named in-memory sink until all
    * currently-available input is processed (local smoke path).
    */
  def runToMemory(agg: DataFrame, name: String,
      mode: String = "complete"): StreamingQuery = {
    val q = agg.writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q
  }

  /** CDC apply stream: each micro-batch is collapsed to its LATEST
    * change per key (by `seqCol`, ties broken toward the higher change)
    * and merged into a parquet target with [[Analytics.mergeUpsert]]
    * semantics (update wins, insert appears, `deleteCol=true` removes).
    *
    * The target is maintained as generation directories under `path`
    * (`gen-<epochId>`) with a `_CURRENT` pointer file written AFTER the
    * new generation commits ([[graft.engine.Generations]] protocol) —
    * plain parquet has no transaction log, so the pointer swap is the
    * commit point: a crash mid-write leaves the previous generation
    * intact and the restarted query (same checkpoint) replays the
    * batch onto it. A crash AFTER the swap but before the checkpoint
    * commit replays the same epoch too — that case is detected
    * (`_CURRENT` already names `gen-<epochId>`) and skipped, so replay
    * is a no-op rather than a read-while-overwriting failure.
    *
    * Scale shape per batch — this is NOT a full-table rewrite. The
    * target is laid out as `nBuckets` key-hash partitions
    * (`__bucket = pmod(xxhash64(keys), nBuckets)`), and a batch only
    * merges and rewrites the buckets its keys actually touch: the
    * bucket ids of the (tiny) batch become partition-filter literals
    * on the target scan, the [[Analytics.mergeUpsert]] full-outer join
    * runs over that pruned slice, and every untouched bucket is
    * carried into the new generation by HARD LINK — same inode, zero
    * bytes rewritten. A trickle CDC stream against a 100 TB target
    * rewrites O(batch keys / nBuckets share) per epoch, not O(table).
    * Superseded generations are swept after each commit
    * ([[graft.engine.Generations.retain]], `retainGenerations` deep);
    * hard links make the sweep safe — carried files survive in newer
    * generations.
    */
  def mergeSink(updates: DataFrame, keyCols: Seq[String], seqCol: String,
      deleteCol: Option[String], path: String, checkpointDir: String,
      nBuckets: Int = 64, retainGenerations: Int = 2): StreamingQuery = {
    require(keyCols.nonEmpty, "mergeSink needs at least one key column")
    require(nBuckets > 0, "mergeSink needs nBuckets > 0")
    require(retainGenerations > 0, "mergeSink needs retainGenerations > 0")
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        mergeBatch(batch, epochId, keyCols, seqCol, deleteCol, path,
          nBuckets, retainGenerations)
      }
      .start()
  }

  /** Streaming ingest into a SAVED [[graft.engine.IvfIndex]] layout:
    * each micro-batch lands as one immutable epoch segment via
    * [[graft.engine.IvfIndex.appendEpoch]] — cells (+ PQ codes when
    * the sidecar exists) under the FROZEN quantizer, claim marker
    * last. The epoch name is derived from the batch id, so checkpoint
    * replay after a successful batch finds the epoch already claimed
    * and appendEpoch returns false (exactly-once growth); a crash
    * mid-write leaves an unclaimed dir every load ignores and the
    * replay rewrites. New ids must be disjoint from stored ones
    * (dedup upstream — [[watermarkDedup]] composes in front).
    *
    * `compactEvery` bounds the epoch count (r18 — the lifecycle-
    * maintenance parity knob): at the threshold, appendEpoch folds the
    * claimed epochs into the base generation (`compactRefit` chooses
    * the budget-growing quantizer refit vs the cheap layout-only
    * fold). Replay across the fold stays exactly-once: a folded
    * epoch's name is refused by the `_folded` manifest — bounded to
    * the last 4×compactEvery names (r18 review finding F4; sound
    * because checkpoint redelivery never reaches older batches).
    * 0 = never.
    */
  def vectorIngestSink(updates: DataFrame, indexPath: String,
      embCol: String, idCol: String,
      checkpointDir: String, compactEvery: Int = 0,
      compactRefit: Boolean = false): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.engine.IvfIndex.appendEpoch(batch.sparkSession, indexPath,
          batch, embCol, idCol, f"batch-$epochId%09d",
          compactEvery, compactRefit, retainFolded = 4 * compactEvery)
        ()
      }
      .start()

  /** Streaming ingest into BOTH persisted retrieval branches — the
    * hybrid lifecycle's missing ingress (r18; [[HybridIndex.delete]]
    * mirrors take-downs, [[HybridIndex.compact]] mirrors maintenance,
    * this mirrors GROWTH): each micro-batch of (id, text, embedding)
    * rows lands as one [[graft.engine.TextIndex.appendSegment]]
    * segment AND one [[graft.engine.IvfIndex.appendEpoch]] epoch
    * under the SAME batch-derived name, so the two branches stay in
    * id lockstep. The vector side requires a pre-built index at
    * `ivfPath` (the frozen-quantizer growth contract — build it from
    * the first corpus snapshot); the text side bootstraps itself.
    *
    * Replay and crash shapes compose from the branches' own commits:
    * a redelivered batch is refused on both sides (committed segment
    * stats / epoch claim, or the post-compaction folded manifests); a
    * crash BETWEEN the two appends leaves the text half committed and
    * heals on replay — the text side refuses, the vector side
    * appends, the idempotent-retry shape [[HybridIndex.delete]]
    * documents. The batch is persisted across the two appends (each
    * would otherwise re-read the micro-batch source — the
    * semanticDedupIngestSink review finding).
    *
    * `compactEvery` forwards to BOTH branches: the text side folds
    * segments at the threshold, the vector side folds epochs
    * (`compactRefit` as in [[vectorIngestSink]]). Both folded-name
    * manifests are bounded to the last 4×compactEvery names (r18
    * review finding F4; checkpoint redelivery never reaches older
    * batches).
    */
  def hybridIngestSink(docs: DataFrame, textCol: String, embCol: String,
      idCol: String, textPath: String, ivfPath: String,
      checkpointDir: String, nBuckets: Int = 64,
      compactEvery: Int = 0,
      compactRefit: Boolean = false): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val name = f"epoch-$epochId%09d"
          val b = batch.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          graft.engine.TextIndex.appendSegment(b, textCol, idCol,
            textPath, name, nBuckets, compactEvery,
            retainFolded = 4 * compactEvery)
          graft.engine.IvfIndex.appendEpoch(b.sparkSession, ivfPath,
            b.select(col(idCol), col(embCol)), embCol, idCol, name,
            compactEvery, compactRefit, retainFolded = 4 * compactEvery)
          b.unpersist()
        }
        ()
      }
      .start()

  /** Streaming ingest into a persisted
    * [[graft.engine.SemanticStore]]: each micro-batch of
    * (id, quality, embedding) rows lands as ONE store epoch —
    * frozen-quantizer cell assignment, blocked batch×(stored ∪ batch)
    * pair scan, pairs/meta/radii staged beside the IvfIndex vectors,
    * the commit marker last. Epoch names derive from the micro-batch
    * id, so a checkpoint redelivery replays as a no-op
    * ([[graft.engine.SemanticStore.ingest]]'s committed-epoch check —
    * the [[vectorIngestSink]] claim-replay shape). The payoff is the
    * store's exactness law carried into streaming: after ANY prefix
    * of micro-batches, `SemanticStore.snapshot` equals the BATCH
    * [[graft.engine.Extensions.semanticDedup]] over the union of
    * those batches — a streaming corpus dedup with offline-run
    * semantics (StreamingSpec drives the equivalence + the restart).
    *
    * `compactEvery` (VERDICT r17 #2a) forwards the store's
    * self-policing knob: a long-running stream is exactly the caller
    * that CANNOT remember a maintenance call, and the lifecycle probe
    * measured the alternative — never-compact per-ingest cost grows
    * ~5× over 40 epochs while compact-every-10 stays flat. The
    * auto-compaction composes with checkpoint replay unchanged: a
    * redelivered micro-batch replays as a committed-epoch no-op
    * BEFORE the threshold check, and a crash inside the compaction
    * itself heals on the next fold (generation-staged, idempotent).
    * 0 = never (the pre-r18 behavior). The store's folded-name
    * manifest is bounded to the last 4×compactEvery names (r18 review
    * finding F4; sound because checkpoint redelivery only reaches
    * batches at/after the last committed offset).
    */
  def semanticDedupIngestSink(updates: DataFrame, storePath: String,
      idCol: String, qualityCol: String, embCol: String,
      minCosine: Double, nCells: Int,
      checkpointDir: String, compactEvery: Int = 0): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // ingestOnly: the sink never reads the returned dedup state,
        // and building it runs an eager transitive-closure fixpoint
        // per micro-batch (r18 optimization — the committed epoch is
        // identical; readers call SemanticStore.snapshot)
        graft.engine.SemanticStore.ingestOnly(storePath,
          batch.select(col(idCol), col(qualityCol)),
          batch.select(col(idCol), col(embCol)),
          idCol, qualityCol, embCol, minCosine, nCells,
          f"batch-$epochId%09d", compactEvery = compactEvery,
          retainFolded = 4 * compactEvery)
        ()
      }
      .start()

  /** One [[mergeSink]] epoch, exposed so crash-replay can be exercised
    * directly: apply `batch` as generation `gen-<epochId>` under
    * `path`. Idempotent per epoch — if `_CURRENT` already names this
    * generation the call is a no-op (checkpoint replay after a crash
    * between pointer flip and offset commit).
    */
  def mergeBatch(batch: DataFrame, epochId: Long, keyCols: Seq[String],
      seqCol: String, deleteCol: Option[String], path: String,
      nBuckets: Int = 64, retainGenerations: Int = 2): Unit = {
    val spark = batch.sparkSession
    val clash = batch.columns.toSet.intersect(Set("__bucket", "__ms_rn"))
    require(clash.isEmpty,
      s"input uses reserved internal column names: ${clash.mkString(", ")}")
    // the bucket layout is a property of the TARGET, not of a call:
    // a later epoch with a different nBuckets would prune the wrong
    // bucket directories and hard-link stale rows forward, silently
    // resurrecting overwritten keys — so the first write stamps the
    // layout in a meta file and every subsequent batch must match
    // (the same cross-write validation loadSegments does for the
    // text index's n_buckets)
    val bucketMeta = s"$path/_NBUCKETS"
    val genDir = s"gen-$epochId"
    val cur = Generations.currentName(path)
    val stamped = Generations.readText(bucketMeta).map(_.trim.toInt)
    stamped.foreach(n => require(n == nBuckets,
      s"target $path was written with nBuckets=$n; " +
        s"this batch was invoked with nBuckets=$nBuckets"))
    if (stamped.isEmpty && cur.isDefined) {
      // generations exist but no stamp: a target written before the
      // stamp existed. The true bucket count is NOT derivable from the
      // layout (absent high buckets are indistinguishable from a
      // smaller count), and trusting the caller's nBuckets is exactly
      // the stale-row resurrection the stamp guards against — refuse
      // and require an explicit migration.
      throw new IllegalStateException(
        s"target $path has generation directories but no _NBUCKETS " +
          "stamp (written by a pre-stamp version); create " +
          s"$path/_NBUCKETS containing the bucket count the target was " +
          "originally written with before appending")
    }
    if (cur.contains(genDir) || batch.isEmpty) return
    if (stamped.isEmpty) Generations.writeText(bucketMeta, nBuckets.toString)
    val bucketOf = pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets))
      .cast("int")
    val latest = batch
      .withColumn("__ms_rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(desc(seqCol))))
      .filter(col("__ms_rn") === 1)
      .drop("__ms_rn", seqCol)
      .persist()
    try {
      // the batch's bucket ids as literals: on the partitioned target
      // layout they prune the scan to touched bucket DIRECTORIES at
      // the file level (a join key can't prune files)
      val touched = latest.select(bucketOf.as("__bucket")).distinct()
        .collect().map(_.getInt(0)).toSet
      val target: DataFrame = cur match {
        case Some(gen) =>
          spark.read.parquet(s"$path/$gen")
            .filter(col("__bucket")
              .isin(touched.toSeq.sorted.map(Integer.valueOf): _*))
            .drop("__bucket")
        case None =>
          // first batch: empty target with the post-merge schema
          val cols = latest.columns
            .filterNot(c => deleteCol.contains(c)).map(col)
          latest.select(cols.toSeq: _*).limit(0)
      }
      val merged = Analytics.mergeUpsert(target, latest, keyCols, deleteCol)
      val newGen = s"$path/$genDir"
      // overwrite also clears a half-written generation left by a
      // crash BEFORE the pointer flip
      Generations.writePartitioned(merged.withColumn("__bucket", bucketOf),
        "__bucket", "overwrite", newGen)
      // carry every untouched bucket forward by hard link — the data
      // files keep their inode, provably un-rewritten
      cur.foreach { gen =>
        Generations.dirNames(s"$path/$gen")
          .filter(d => d.startsWith("__bucket=") &&
            !touched.contains(d.stripPrefix("__bucket=").toInt))
          .foreach(d => Generations.linkOrCopyInto(s"$path/$gen/$d",
            s"$newGen/$d"))
      }
      // an all-delete merge can leave zero bucket dirs; stamp the
      // schema so the generation stays readable as an empty target
      if (!Generations.dirNames(newGen).exists(_.startsWith("__bucket=")))
        merged.limit(0).withColumn("__bucket", lit(0).cast("int"))
          .coalesce(1).write.mode("append").parquet(newGen)
      // commit point: the pointer names the new generation only after
      // its files (written + linked) are all in place
      Generations.publish(path, genDir)
      Generations.retain(path, retainGenerations)
      ()
    } finally latest.unpersist()
  }

  /** Continuous data-quality monitoring: run the [[graft.engine.Quality]]
    * constraint suite on every micro-batch and append the per-rule
    * report (stamped with the epoch id) to a parquet log — the
    * streaming twin of the batch `Quality.check` gate, giving an
    * always-current pass/fail time series per rule. Alert wiring is the
    * caller's: read the log, filter `passed = false`.
    */
  def qualityMonitorSink(updates: DataFrame,
      rules: Seq[graft.engine.Quality.Rule], reportPath: String,
      checkpointDir: String): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.engine.Quality.check(batch, rules)
          .withColumn("batch_id", lit(epochId))
          .write.mode("append").parquet(reportPath)
        ()
      }
      .start()

  /** Streaming drift monitor: every micro-batch's distribution of
    * `column` is PSI-compared ([[graft.engine.Quality.psiReport]])
    * against a STATIC baseline snapshot (the training distribution),
    * and the per-bin report — plus the summed headline PSI on every
    * row — is appended with the epoch id. The standard
    * "is production input still what we trained on" feed; alerting is
    * a filter on `psi_total` over the log (rule of thumb: > 0.25 =
    * shifted).
    */
  def driftMonitorSink(updates: DataFrame, baseline: DataFrame,
      column: String, bins: Int, lo: Double, hi: Double,
      reportPath: String, checkpointDir: String): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val report = graft.engine.Quality
          .psiReport(baseline, batch, column, bins, lo, hi)
        val total = report.agg(sum("psi_contrib")).head().getDouble(0)
        report
          .withColumn("psi_total", lit(total))
          .withColumn("batch_id", lit(epochId))
          .write.mode("append").parquet(reportPath)
        ()
      }
      .start()

  /** Streaming cardinality tracking: each micro-batch is sketched
    * ([[graft.engine.DistinctStore]]) and UNIONed into the persisted
    * per-group HLL store — "distinct users per segment, all time,
    * updated every batch" at kilobytes of state per group, no
    * re-reading history. Same generation-swap commit protocol as
    * [[mergeSink]] (`_CURRENT` pointer written after the merged store
    * lands). Read the live estimates with
    * `DistinctStore.estimates(DistinctStore.load(spark, readCurrent(path)))`
    * or [[readMergeTarget]].
    */
  def distinctCountSink(updates: DataFrame, groupCol: String,
      valueCol: String, path: String, checkpointDir: String,
      lgK: Int = 12, retainGenerations: Int = 2): StreamingQuery = {
    require(retainGenerations > 0,
      "distinctCountSink needs retainGenerations > 0")
    val spark = updates.sparkSession
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val genDir = s"gen-$epochId"
        val cur = Generations.currentName(path)
        // checkpoint replay after a crash between pointer flip and
        // offset commit: the fold already happened — folding the same
        // batch twice WOULD be idempotent for HLL, but reading gen-N
        // while overwriting gen-N is not expressible; skip instead
        if (!cur.contains(genDir)) {
          val snap = graft.engine.DistinctStore.build(batch, groupCol,
            valueCol, lgK)
          val merged = cur match {
            case Some(gen) => graft.engine.DistinctStore.merge(Seq(
              graft.engine.DistinctStore.load(spark, s"$path/$gen"), snap))
            case None => snap
          }
          graft.engine.DistinctStore.save(merged, s"$path/$genDir")
          Generations.publish(path, genDir)
          Generations.retain(path, retainGenerations)
        }
        ()
      }
      .start()
  }

  /** Streaming text-index ingest: every micro-batch of documents is
    * appended to a [[graft.engine.TextIndex]] segment store as one
    * immutable epoch-named segment — the search index trails the
    * document stream by one micro-batch, with no rebuild ever.
    * Query side: `TextIndex.loadSegments(spark, indexPath)` at any
    * time. Segment names embed the epoch id, so checkpoint replay of
    * a batch is refused by [[graft.engine.TextIndex.appendSegment]]
    * itself (committed segment OR a name a compaction has since
    * folded — the pre-r18 sink-side catch checked the hardcoded
    * `segments/` root and missed both the post-compaction root and
    * the folded case), and a crashed half-written segment is restaged
    * there too.
    *
    * `compactEvery` (VERDICT r17 #2b) bounds the segment count: each
    * query probes one bucket dir PER SEGMENT, so a per-micro-batch
    * append stream must fold segments on a cadence or pay a linearly
    * growing per-query tax. 0 = never (the pre-r18 behavior). The
    * folded-name replay manifest is bounded to the last
    * 4×compactEvery names (r18 review finding F4 — unbounded, a
    * months-long stream re-reads millions of names per append): sound
    * here because Structured Streaming redelivers only batches
    * at/after the last committed checkpoint offset, never one older
    * than the horizon.
    */
  def indexIngestSink(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, checkpointDir: String,
      nBuckets: Int = 64, compactEvery: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          graft.engine.TextIndex.appendSegment(batch, textCol, idCol,
            indexPath, f"epoch-$epochId%09d", nBuckets, compactEvery,
            retainFolded = 4 * compactEvery)
        }
        ()
      }
      .start()

  /** Read the current state of a [[mergeSink]] target (the generation
    * named by the `_CURRENT` pointer).
    */
  def readMergeTarget(spark: SparkSession, path: String): DataFrame = {
    val gen = Generations.currentName(path)
      .getOrElse(throw new IllegalArgumentException(
        s"no _CURRENT pointer under $path"))
    // the key-hash layout column is an internal of the merge protocol
    spark.read.parquet(s"$path/$gen").drop("__bucket")
  }
}


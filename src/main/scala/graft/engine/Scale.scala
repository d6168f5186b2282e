package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-out join strategies (100 TB posture; SURVEY.md §7 risks).
  * Nothing here changes results — only physical distribution.
  */
object Scale {

  /** Salted equi-join for skewed keys: the skewed (large) side gets a
    * random-free deterministic salt derived from a row fingerprint, the
    * small side is exploded `saltFactor`× so every (key, salt) bucket
    * joins. Use when one join key holds a disproportionate share of rows
    * and AQE's skew splitting isn't enough (e.g. a null-heavy or
    * celebrity key). Result-identical to a plain inner equi-join.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int = 8): DataFrame = {
    val salted = large.withColumn("__salt",
      pmod(xxhash64(large.columns.toSeq.map(col): _*), lit(saltFactor)))
    val exploded = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(exploded, Seq(key, "__salt")).drop("__salt")
  }

  /** Write both sides bucketed by the join key so subsequent joins are
    * exchange-free (co-located). At warehouse scale this is the standard
    * "pay the shuffle once at ingest" trade. Requires a table catalog
    * (works with Spark's default in-memory catalog + warehouse dir).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Read a bucketed table back from the catalog. */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Idempotent bucketed materialization: write `df` bucketed by `key`
    * under a deterministic per-(name, source) table name unless this
    * session already has it, and return the catalog-backed frame. The
    * re-usable half of the "pay the shuffle once at ingest" trade —
    * callers that join repeatedly on `key` go exchange-free from the
    * second use on. The table name carries the source tag so the same
    * session can hold bucketed copies of several scale factors.
    * `df` is repartitioned onto the bucket key before the write so
    * each bucket lands as ONE file — the layout Spark's scan requires
    * to also skip the in-partition SORT on sort-merge joins.
    */
  def ensureBucketed(spark: SparkSession, df: DataFrame, name: String,
      sourceTag: String, key: String, buckets: Int): DataFrame = {
    val d = df
    // Cache key folds in the bucket key, bucket count, AND a schema
    // fingerprint (ADVICE r9): a second call with the same (name, tag)
    // but a different layout must MISS and materialize its own table,
    // never silently reuse a table bucketed on the wrong key/count or
    // carrying a stale column set. Key and bucket count embed READABLY
    // (identifier-sanitized) so two layouts can only collide if they
    // share key+count AND their (tag, schema) strings collide on the
    // 31-bit hash — not merely any two layouts. hashCode is stable
    // across JVMs (String.hashCode is specified).
    val schemaFp = d.schema.fields
      .map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    val keyId = key.toLowerCase.map(c => if (c.isLetterOrDigit) c else '_')
    val tag = s"$sourceTag|$schemaFp"
    val table = f"graft_bkt_${name}_${keyId}_${buckets}_" +
      f"${tag.hashCode & 0x7fffffff}%08x"
    if (!spark.catalog.tableExists(table)) {
      // files without a catalog entry = leftovers from a previous
      // session's in-memory catalog — dead weight; clear before writing
      // (saveAsTable refuses to adopt an existing managed location)
      Generations.delete(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
      d.repartition(buckets, col(key)).write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    }
    spark.table(table)
  }

  /** Per-key mergeable aggregate state over a LONG value column:
    * (keyCols*, n_rows, sum_v, min_v, max_v). The four fields form a
    * commutative monoid under [[mergeAggState]], so partial states
    * computed over disjoint slices of the data merge into exactly the
    * state of the union — the algebra behind incremental aggregate
    * maintenance: keep yesterday's state, aggregate ONLY today's delta,
    * merge. Use integer units (cents/micros) for money — long sums are
    * associative, so merged totals are bit-identical to a full
    * recompute, not merely close. Count is of rows (null values count
    * in n_rows but not the sum/min/max, matching SQL COUNT(*)).
    */
  def aggState(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame = {
    require(keyCols.nonEmpty, "aggState needs at least one key column")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }

  /** Merge two [[aggState]] frames (same keys) into the state of the
    * combined data: counts and sums add, min/max fold. Keys present in
    * only one side pass through unchanged.
    *
    * Scale shape: union + ONE hash exchange on the key — the exchange
    * moves |state| + |delta-keys| rows, never the raw delta, and if the
    * state lives bucketed on the key ([[writeBucketed]]) the state side
    * needs no shuffle at all. At 100 TB this is the difference between
    * re-aggregating the full history per day and touching only the
    * day's keys.
    */
  def mergeAggState(state: DataFrame, delta: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "mergeAggState needs at least one key column")
    state.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** Write-Audit-Publish on plain parquet: stage the data to a
    * version directory, run the [[Quality]] contract ON THE WRITTEN
    * FILES (auditing the df would miss write corruption), and flip the
    * `_CURRENT` pointer only when every rule passes. Readers
    * ([[readPublished]]) never see an unaudited or half-written
    * version; a failed audit leaves the staged directory in place for
    * debugging and the previous version still published. Returns true
    * iff published.
    *
    * The pointer flip is the commit point — the same protocol as the
    * streaming merge sink's generations; WAP is its batch-ingest twin.
    */
  def writeAuditPublish(df: DataFrame, path: String, version: String,
      rules: Seq[Quality.Rule]): Boolean = {
    require(version.nonEmpty && !version.contains("/"),
      "version must be a plain directory name")
    val spark = df.sparkSession
    val staged = s"$path/$version"
    df.write.mode("errorifexists").parquet(staged)
    val report = Quality.check(spark.read.parquet(staged), rules).collect()
    val ok = report.forall(_.getBoolean(4))
    if (ok) Generations.publish(path, version)
    ok
  }

  /** Small-files maintenance: rewrite the PUBLISHED version of a WAP
    * table into `newVersion` with files sized toward `targetBytes`
    * ([[writeSized]] calibration), re-audited and atomically republished
    * — the compaction job every parquet lake schedules, expressed as
    * read-published → sized-write → audit → pointer flip. Returns true
    * iff the compacted version passed its audit and was published;
    * on false the previous version stays live (compaction must never
    * lose data to win file counts — the audit enforces it).
    */
  def compactPublished(spark: SparkSession, path: String,
      newVersion: String, targetBytes: Long,
      rules: Seq[Quality.Rule]): Boolean = {
    require(newVersion.nonEmpty && !newVersion.contains("/"),
      "version must be a plain directory name")
    val current = readPublished(spark, path)
    val staged = s"$path/$newVersion"
    require(!Generations.exists(staged),
      s"version $newVersion already exists under $path")
    val cap = writeSized(current, staged, targetBytes)
    require(cap >= 1L)
    val report = Quality.check(spark.read.parquet(staged), rules).collect()
    val ok = report.forall(_.getBoolean(4))
    if (ok) Generations.publish(path, newVersion)
    ok
  }

  /** Version retention for a [[writeAuditPublish]] / [[compactPublished]]
    * target: delete superseded version directories, keeping the `keep`
    * most recent plus — always — the one `_CURRENT` names. Without a
    * sweep every publish and every compaction leaves its predecessor
    * on disk forever; with it the audit-then-flip protocol runs
    * unbounded. Failed-audit stages age out with the rest (debug them
    * within `keep` publishes). Returns the deleted version names.
    * Same sweeper as the streaming sinks' `retainGenerations` —
    * [[Generations.retain]].
    */
  def retainVersions(path: String, keep: Int): Seq[String] =
    Generations.retain(path, keep)

  /** Read the currently-published version of a [[writeAuditPublish]]
    * target.
    */
  def readPublished(spark: SparkSession, path: String): DataFrame = {
    val v = Generations.currentName(path).getOrElse(
      throw new IllegalArgumentException(s"nothing published under $path"))
    spark.read.parquet(s"$path/$v")
  }

  /** Write `df` as parquet with files sized toward `targetBytes`: a
    * bounded sample is written first to measure real on-disk bytes/row
    * (post-encoding, post-compression — a serialized-row estimate would
    * be off by the compression ratio), then the full write caps
    * `maxRecordsPerFile` accordingly. The small-files problem and the
    * giant-files problem are both partition-layout failures at 100 TB;
    * this is the standard calibrate-then-write answer on plain parquet.
    * Returns the records-per-file cap used.
    *
    * The sample write is one extra tiny job; the main write is
    * unchanged beyond the cap. Files can still be SMALLER than the
    * target where a task's partition holds fewer rows — pair with
    * `repartition(n)` upstream if strict sizing matters.
    */
  /** Cluster-by-key parquet layout: range-partition on `keyCol`, sort
    * within each partition, write one file per range. The result is a
    * layout whose per-file [min, max] key ranges are PAIRWISE DISJOINT
    * — a key-equality or key-range scan only has data in the files
    * whose range overlaps the predicate, which is what lets min/max
    * statistics (parquet row-group stats here; file-skipping indexes
    * in table formats) prune I/O instead of reading the whole table.
    * The data-locality complement of [[writeSized]] (which bounds file
    * SIZE but says nothing about file CONTENT): at 100 TB, an
    * unclustered table answers `key BETWEEN a AND b` by touching every
    * file; a clustered one touches ~selectivity·n of them. Disjointness
    * is asserted by `ScaleSpec` from the written footers, not assumed.
    *
    * One range exchange (with Spark's sampling pass to pick bounds) +
    * an in-partition sort — the standard one-shot clustering cost,
    * amortized over every subsequent selective read.
    */
  def clusteredWrite(df: DataFrame, path: String, keyCol: String,
      numFiles: Int): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    df.repartitionByRange(numFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)
  }

  def writeSized(df: DataFrame, path: String, targetBytes: Long,
      sampleRows: Int = 10000): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val spark = df.sparkSession
    val probe = path + "__probe"
    val sample = df.limit(sampleRows).coalesce(1)
    sample.write.mode("overwrite").parquet(probe)
    val sampled = spark.read.parquet(probe).count()
    val bytes = Generations.list(probe)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val perRow = math.max(1L, if (sampled == 0) 1L else bytes / sampled)
    val cap = math.max(1L, targetBytes / perRow)
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", cap)
      .parquet(path)
    Generations.delete(probe)
    cap
  }

  /** Z-order (Morton-curve) clustered parquet layout over two or more
    * numeric columns — the multi-dimension complement of
    * [[clusteredWrite]]. A 1-D sort makes per-file ranges disjoint on
    * ONE column only; predicates on any other column still touch every
    * file. Z-ordering rank-quantizes each cluster column into
    * `2^bits` equi-depth bins (boundaries from a sampled
    * approx-quantile pass — the driver holds `cols × (2^bits − 1)`
    * doubles, nothing data-sized), bit-interleaves the bin indices
    * into a Morton code, and range-partitions + sorts on that code.
    * Files then cover compact hyper-rectangles of the key space, so
    * min/max footer stats prune a selective predicate on ANY clustered
    * dimension to a small file subset — the layout trick behind
    * Delta/Iceberg `ZORDER BY`, on plain parquet.
    *
    * Equi-depth (rank) quantization rather than value-linear scaling
    * keeps the curve balanced under skew: each bin holds ~1/2^bits of
    * the rows regardless of the value distribution. The whole bin +
    * interleave computation is a single codegen'd Column expression —
    * no UDF, no extra pass; the write costs one quantile sample pass
    * plus the same range exchange + in-partition sort as
    * [[clusteredWrite]]. `ScaleSpec` asserts the pruning property from
    * the written footers: a narrow range on EITHER dimension overlaps
    * a strict subset of files, where a 1-D layout overlaps all of them
    * on its non-sorted dimension.
    */
  def zorderWrite(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int, bits: Int = 8): Unit = {
    require(numFiles > 0, "numFiles must be positive")
    require(clusterCols.size >= 2, "zorder needs >= 2 columns")
    require(bits >= 1 && bits * clusterCols.size <= 62,
      s"bits=$bits x ${clusterCols.size} cols must fit a long")
    val nBins = 1 << bits
    val dims = clusterCols.size
    val probs = (1 until nBins).map(_.toDouble / nBins).toArray
    // one sampled quantile pass for all columns; dedupe boundaries so
    // heavy skew (many ties) degrades to fewer, still-ordered bins
    val casted = df.select(clusterCols.map(c =>
      col(c).cast("double").as(c)): _*)
    val bounds = casted.stat
      .approxQuantile(clusterCols.toArray, probs, 0.001)
      .map(_.distinct.sorted)
    // bin = #boundaries <= value, as a single compact aggregate over a
    // literal boundary array (a 2^bits-branch when-chain would overrun
    // the codegen method limit); nulls sort to bin 0
    val binned = clusterCols.zip(bounds).zipWithIndex
      .foldLeft(df) { case (acc, ((c, bs), i)) =>
        val v = coalesce(col(c).cast("double"), lit(Double.MinValue))
        acc.withColumn(s"__zbin_$i",
          aggregate(array(bs.map(lit).toSeq: _*), lit(0L),
            (n, b) => n + when(v >= b, 1L).otherwise(0L)))
      }
    val morton = (0 until bits).foldLeft(lit(0L)) { (acc0, b) =>
      (0 until dims).foldLeft(acc0) { case (acc, i) =>
        acc.bitwiseOR(shiftleft(
          shiftright(col(s"__zbin_$i"), b).bitwiseAND(lit(1L)),
          b * dims + i))
      }
    }
    binned.withColumn("__z", morton)
      .drop((0 until dims).map(i => s"__zbin_$i"): _*)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}

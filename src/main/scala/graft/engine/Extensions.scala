package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.functions.{MinHashSig, SimHash64, TokenHash}

/** North-star training-data pipeline operators (SURVEY.md §7 step 4,
  * BASELINE.json): deduplication (exact / MinHash-LSH / SimHash / n-gram
  * Jaccard), similarity search over embeddings (brute-force cosine +
  * LSH-bucketed scale path), and text analysis (token stats, quality
  * score, language ID). The reference has none of these; they're what a
  * 100 TB training-data pipeline needs on top of it.
  */
object Extensions {

  /** The most recent [[ivfPqTopK]] fit (float-cast coarse centroids +
    * PQ codebook), captured for the deferred DuckDB-twin generator
    * ([[PqOracles]]). The coarse KMeans fit is MLlib-distributed and
    * not refit-reproducible across partitionings, so the oracle must
    * replay the fit of the run that produced the dumped output —
    * Verify runs the catalog, THEN dumps oracle SQL from this capture.
    */
  private[engine] val lastIvfPqFit = new java.util.concurrent.atomic
    .AtomicReference[(Seq[Array[Float]], Seq[Seq[Seq[Float]]])](null)

  /** Internal temp-column collision guard (same contract as
    * AsOfJoin's): fail loudly instead of silently overwriting and then
    * dropping a caller column of the same name.
    */
  private def requireNoReserved(df: DataFrame, reserved: Seq[String]): Unit = {
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"input uses reserved internal column names: ${clash.mkString(", ")}")
  }

  // ── deduplication ────────────────────────────────────────────────────

  /** Exact dedup, deterministic survivor: keep the min-key row per
    * `dupeCols` group (dropDuplicates keeps an arbitrary
    * first-encountered row — nondeterministic across partitions, so
    * unusable under an oracle and unrepeatable in production).
    *
    * Scale shape: ONE shuffle keyed on `xxhash64(dupeCols)` — an 8-byte
    * key — never on the dupe payload itself (a multi-KB document text as
    * shuffle/sort key is ~100× the key weight on a real corpus). Within
    * a hash group, rows sort by (dupeCols, key); a row survives iff it's
    * the first of its exact dupe-value run, which keeps the result exact
    * even under 64-bit hash collisions (colliding-but-different payloads
    * land in the same window group but start their own run).
    */
  def dedupExact(df: DataFrame, dupeCols: Seq[String],
      keyCol: String): DataFrame = {
    requireNoReserved(df, Seq("__h", "__rn", "__same"))
    // the hash must be a MATERIALIZED column, not an inline expression:
    // partitionBy(xxhash64(...)) would be re-projected separately for the
    // row_number and lag windows (two `_w0` attributes → two exchanges);
    // a concrete column lets both share one partitioning and one shuffle
    val withH = df.withColumn("__h", xxhash64(dupeCols.map(col): _*))
    val w = Window.partitionBy("__h")
      .orderBy(dupeCols.map(col) :+ col(keyCol): _*)
    // first row of the window has no lag → guard with row_number, NOT a
    // null-check on lag (a genuinely-null dupe value would alias it)
    val sameAsPrev = dupeCols.map(c => lag(col(c), 1).over(w) <=> col(c))
      .reduce(_ && _)
    withH.withColumn("__rn", row_number().over(w))
      .withColumn("__same", sameAsPrev)
      .filter(col("__rn") === 1 || !col("__same"))
      .drop("__h", "__rn", "__same")
  }

  /** Incremental EXACT dedup across snapshots — the recurring-crawl
    * shape: drop new-batch rows whose dupeCols tuple already exists in
    * the historical corpus (anti-join), then [[dedupExact]] the
    * survivors within the batch (min keyCol survives).
    *
    * Scale shape: the corpus side is projected to dupeCols + an
    * xxhash64 before the join — the anti-join's equi key is the 8-byte
    * hash, with the real columns compared null-safely in the same
    * condition so 64-bit collisions can never drop a genuinely new row.
    * The historical corpus is never windowed, never re-deduped, and
    * only its dupeCols ever move.
    */
  def dedupIncremental(batch: DataFrame, corpus: DataFrame,
      dupeCols: Seq[String], keyCol: String): DataFrame = {
    requireNoReserved(batch, Seq("__h", "__rn", "__same"))
    val bh = batch.withColumn("__h", xxhash64(dupeCols.map(col): _*))
    // rename every corpus-side column: sidesteps ambiguous-attribute
    // resolution when batch and corpus share lineage (the common case:
    // two snapshots of one table)
    val ch = corpus
      .select(xxhash64(dupeCols.map(col): _*).as("__corpus_h") +:
        dupeCols.map(c => col(c).as(s"__corpus_$c")): _*)
    val cond = dupeCols.map(c => col(c) <=> col(s"__corpus_$c"))
      .foldLeft(col("__h") === col("__corpus_h"))(_ && _)
    val fresh = bh.join(ch, cond, "left_anti").drop("__h")
    dedupExact(fresh, dupeCols, keyCol)
  }

  /** Tokenized lowercase words — the shared text preprocessing. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** Projections over driver-held request values — term buckets, probe
    * cells, query norms — built ONCE per index handle and evaluated per
    * request on the driver, with no plan: the Spark expressions a
    * search plan would run, analyzed once over an empty relation of
    * `input`'s schema and interpreted row by row, so the values are the
    * bits the plan would compute. Evaluating them by folding a
    * projection over a per-request local relation cost a full analysis
    * and optimization per search. Thread-safe (evaluation is
    * serialized: interpreted lambda variables hold state). */
  private[graft] final class DriverProjection private[Extensions] (
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) {
    private val proj = org.apache.spark.sql.catalyst.expressions
      .InterpretedMutableProjection.createProjection(exprs)

    /** The projected values of one input row (catalyst values). */
    def apply(values: Any*): org.apache.spark.sql.catalyst.InternalRow =
      synchronized {
        proj(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(values.toArray)).copy()
      }
  }

  private[graft] def driverProjection(spark: SparkSession,
      input: StructType, cols: Column*): DriverProjection = {
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val analyzed = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row], input)
      .select(cols: _*).queryExecution.analyzed
    org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(analyzed) match {
      case Project(list, child) =>
        new DriverProjection(BindReferences.bindReferences(list, child.output))
      case other => throw new IllegalStateException(
        s"a driver projection must analyze to one Project, got $other")
    }
  }

  /** Partition-pruning filter `c IN values` over an int partition
    * column (IVF cells, term-hash buckets) — the one place a search
    * plan carries request-derived literals, because only a literal
    * partition filter prunes files. Written as `array_contains` over
    * one array literal: file listing evaluates it through a generated
    * predicate, and an array literal is bound by reference there
    * (where `IN` inlines each value), so a new probe set reuses the
    * compiled predicate instead of adding one class per request. */
  private[graft] def partitionIn(c: String, values: Seq[Int]): Column =
    array_contains(typedLit(values.toArray), col(c))

  /** `c IN ids` for a request's id set with the set bound BY REFERENCE
    * when `c` is a long column (Catalyst's InSet): the generated
    * filter reads the set from its references array instead of
    * inlining `c == 110L`, so every request reuses one compiled class,
    * and the predicate still pushes into the parquet reader. Other id
    * types take the plain `isin` (an int InSet codegens as an inlined
    * switch anyway). */
  private[graft] def idsIn(df: DataFrame, c: String,
      ids: Seq[Long]): Column =
    df.schema.find(_.name == c).getOrElse(df.select(col(c)).schema.head)
      .dataType match {
      case org.apache.spark.sql.types.LongType =>
        import org.apache.spark.sql.graft.ColumnBridge
        ColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.InSet(
            ColumnBridge.expression(col(c)), ids.toSet[Any]))
      case _ => col(c).isin(ids: _*)
    }

  /** Unsplittable-source relief (opt guide §2.5/§6): a scan whose
    * planned split count is below the session's parallelism (a
    * single-row-group parquet file, one gzip member, one huge file)
    * serializes EVERY pre-exchange operator — tokenize, explode,
    * hash, decode, pair scoring — on one core no matter how many the
    * machine has. Round-robin repartition to the default parallelism
    * immediately after the read unlocks the machine; the guard makes
    * it a strict no-op whenever the source already splits wide enough
    * (any real table at cluster scale), so nothing here is tuned to
    * local mode.
    *
    * Apply ONLY where the downstream result is order-independent
    * (per-row projections, integer/decimal aggregation, sorted
    * collects, bounded heaps with total tiebreaks): round-robin
    * changes per-partition accumulation order, which is observable
    * through float-sum rounding.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Exchange-bearing frames are left alone (ADVICE r18): calling
    // .rdd on them under AQE finalizes the adaptive plan and EAGERLY
    // materializes upstream shuffle stages whose output is then thrown
    // away when the real action re-plans — and a frame that already
    // shuffled has session-parallelism partitioning at any real scale
    // (the callers that need a post-shuffle pin use an explicit
    // repartition). The probe reads `sparkPlan` (the pre-adaptive
    // physical plan, memoized on the frame's QueryExecution), so an
    // exchange-free frame pays one planning, no job.
    val hasExchange = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        true
      case _ => false
    }
    if (hasExchange) df
    else if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** SimHash signatures per document (custom Catalyst expression,
    * graft.functions.SimHash64): one narrow projection, no shuffle.
    * Near-dups = small hamming distance between signatures. `hash`
    * picks the token hash ([[TokenHash]]): 64-bit Murmur by default,
    * or the 60-bit md5 slice DuckDB re-derives exactly (the catalog's
    * `simhash_signatures`).
    */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      hash: TokenHash = TokenHash.Murmur): DataFrame =
    docs.select(col(idCol),
      SimHash64.simhash64(tokens(col(textCol)), hash).as("simhash"))

  /** SimHash near-dup candidate pairs: band the `hash.bits`-bit
    * signature into `numBands` equal bands (standard LSH trick),
    * self-join per band, then filter on exact hamming distance.
    * Shuffles on the small band keys, never the full cross product;
    * the only full-corpus exchange carries (band, key, id, sig) rows,
    * never tokens.
    *
    * RECALL BOUND (pigeonhole): a pair at hamming distance h is
    * GUARANTEED a band collision only when h ≤ numBands−1 — beyond that
    * the differing bits can spread across every band and the pair is
    * silently dropped; recall is probabilistic and falls with h. At
    * `maxHamming = numBands − 1` banding is therefore LOSSLESS and the
    * operator fully deterministic (the catalog's `simhash_neardup`,
    * which DuckDB replays end to end). More bands ⇒ wider guarantee but
    * narrower band keys (bits/numBands) ⇒ coarser buckets ⇒ more
    * candidate pairs to rescore: at corpus scale keep band keys ≥8 bits.
    */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8, numBands: Int = 4,
      hash: TokenHash = TokenHash.Murmur): DataFrame = {
    // ≥2: one band would be the degenerate all-pairs join (and its
    // full-width mask computation, 1L << 64, wraps to 0 on the JVM)
    require(numBands >= 2 && numBands <= 16 && hash.bits % numBands == 0,
      s"numBands must divide ${hash.bits}, in [2, 16]")
    bandedHammingPairs(simhashSignatures(docs, textCol, idCol, hash), idCol,
      sigBits = hash.bits, numBands = numBands, maxHamming = maxHamming)
  }

  /** Shared LSH banding for hamming near-dup search: split the
    * `sigBits`-bit `simhash` column into `numBands` equal bands,
    * self-join on (band, bandkey), keep pairs at exact popcount
    * hamming ≤ `maxHamming`. Candidates pass the join once per shared
    * band; `distinct()` before the hamming filter collapses them. */
  private def bandedHammingPairs(sigs: DataFrame, idCol: String,
      sigBits: Int, numBands: Int, maxHamming: Int): DataFrame = {
    val width = sigBits / numBands
    val mask = (1L << width) - 1
    val banded = sigs.select(col(idCol), col("simhash"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * width).bitwiseAND(lit(mask))
            .as("bandkey"))): _*))
        .as("b"))
      .select(col(idCol), col("simhash"),
        col("b.band").as("band"), col("b.bandkey").as("bandkey"))
    val a = banded.select(col("band"), col("bandkey"),
      col(idCol).as("id_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("bandkey"),
      col(idCol).as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "bandkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** MinHash near-dup pairs, fully native: one [[graft.functions.MinHashSig]]
    * projection computes the k-value signature per doc (no shuffle, no
    * vocabulary), a (hash-index, value) band self-join yields candidates
    * (OR-amplification over k single-value bands — the same candidate
    * rule as MLlib's `numHashTables`), and the exact token-set Jaccard
    * distance is computed ONLY for candidate pairs. `hash` picks the
    * token hash ([[TokenHash]]): the seeded Murmur family by default, or
    * `md5_60(i + ":" + token)` (`seed` ignored), which DuckDB
    * re-derives so candidates AND rescore replay bit for bit (the
    * catalog's `minhash_neardup`).
    *
    * Scale shape: signatures ride a single scan; the only full-corpus
    * exchange carries (idx, long, id) triples — never tokens, never a
    * vocabulary. MLlib's CountVectorizer→MinHashLSH `fit`s a
    * corpus-wide vocabulary onto the driver (O(|vocab|) driver heap — a
    * 100 TB non-starter) and re-tokenizes the corpus three times;
    * measured 4.4 s vs ~0.5 s at sf0.1 for identical semantics.
    *
    * Exactness: `jaccard_dist` is exact (token-set intersection over
    * union on candidates). Recall: a true near-dup pair is missed only
    * if all k independent minhash values differ — P[miss] = (1−j)^k,
    * the standard OR-amplification bound.
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxJaccardDist: Double = 0.8, numHashTables: Int = 3,
      seed: Long = 42L, hash: TokenHash = TokenHash.Murmur): DataFrame = {
    // "" is not a token (split("", " ") yields [""]): without stripping
    // it, every empty/whitespace-only doc shares that token, collides on
    // every band, AND survives the exact rescore — O(m²) output on a
    // corpus with m empty docs. Empty-token-set docs can never emit a
    // pair (the rescore needs a nonzero intersection), so drop them
    // before signing; [[dedupExact]] is the operator that pairs
    // byte-identical (incl. empty) texts.
    val toks = docs.select(col(idCol),
      array_remove(array_distinct(tokens(col(textCol))), "").as("__toks"))
      .filter(size(col("__toks")) > 0)
    val sig = toks.select(col(idCol),
      MinHashSig.minhashSig(col("__toks"), numHashTables, seed, hash)
        .as("__sig"))
    val banded = sig.select(col(idCol),
      posexplode(col("__sig")).as(Seq("__band", "__h")))
    val cand = banded.select(col("__band"), col("__h"), col(idCol).as("id_a"))
      .join(banded.select(col("__band"), col("__h"), col(idCol).as("id_b")),
        Seq("__band", "__h"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // exact rescore on candidates only: per-doc distinct token hashes
    // (xxhash64 — 8-byte join keys instead of token payloads)
    val th = toks.select(col(idCol), explode(col("__toks")).as("__tok"))
      .select(col(idCol), xxhash64(col("__tok")).as("__th"))
    val counts = th.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val inter = cand
      .join(th.select(col(idCol).as("id_a"), col("__th")), Seq("id_a"))
      .join(th.select(col(idCol).as("id_b"), col("__th")), Seq("id_b", "__th"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__ni"))
    inter
      .join(counts.select(col(idCol).as("id_a"), col("__n").as("__na")), "id_a")
      .join(counts.select(col(idCol).as("id_b"), col("__n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (lit(1.0) - col("__ni") / (col("__na") + col("__nb") - col("__ni")))
          .as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
  }

  /** Build-once signature store for incremental near-dup detection:
    * (id, sig[numHashTables], tok_hashes[]) per non-empty document.
    * Persist this as parquet once per corpus snapshot; recurring crawls
    * then run [[minhashNearDupsIncremental]] against it without ever
    * re-reading or re-signing the historical text.
    */
  def minhashSignatureStore(docs: DataFrame, textCol: String, idCol: String,
      numHashTables: Int = 3, seed: Long = 42L): DataFrame = {
    val toks = docs.select(col(idCol),
      array_remove(array_distinct(tokens(col(textCol))), "").as("__toks"))
      .filter(size(col("__toks")) > 0)
    toks.select(col(idCol),
      MinHashSig.minhashSig(col("__toks"), numHashTables, seed).as("sig"),
      transform(col("__toks"), t => xxhash64(t)).as("tok_hashes"))
  }

  /** Incremental NEAR-dup detection: sign only the NEW batch, band-join
    * its signatures against a persisted [[minhashSignatureStore]] of the
    * existing corpus, and exact-rescore ONLY the candidate pairs using
    * the store's token hashes. Returns (new id, corpus id, jaccard_dist
    * ≤ maxJaccardDist). Same candidate rule and rescore arithmetic as
    * [[minhashNearDups]] with the same seed, so a batch-vs-corpus pair
    * is reported iff the batch-join self-run over the union would
    * report it.
    *
    * Scale shape: the historical corpus contributes only 8-byte
    * (band, hash) keys to the candidate join and — candidate-first, as
    * in [[fuzzyDedupPairs]] — only candidate docs' token hashes are
    * ever exploded for the rescore. Nothing reprocesses old text.
    */
  def minhashNearDupsIncremental(batch: DataFrame, textCol: String,
      idCol: String, store: DataFrame, maxJaccardDist: Double = 0.8,
      numHashTables: Int = 3, seed: Long = 42L): DataFrame = {
    val bsig = minhashSignatureStore(batch, textCol, idCol, numHashTables,
      seed)
    val bb = bsig.select(col(idCol).as("new_id"),
      posexplode(col("sig")).as(Seq("__band", "__h")))
    val sb = store.select(col(idCol).as("corpus_id"),
      posexplode(col("sig")).as(Seq("__band", "__h")))
    val cand = bb.join(sb, Seq("__band", "__h"))
      .select("new_id", "corpus_id").distinct()
    val bth = bsig.select(col(idCol).as("new_id"),
        size(col("tok_hashes")).as("__na"), explode(col("tok_hashes")).as("__th"))
      .join(cand.select("new_id").distinct(), Seq("new_id"), "left_semi")
    val sth = store.select(col(idCol).as("corpus_id"),
        size(col("tok_hashes")).as("__nb"), explode(col("tok_hashes")).as("__th"))
      .join(cand.select("corpus_id").distinct(), Seq("corpus_id"), "left_semi")
    val inter = cand
      .join(bth, Seq("new_id"))
      .join(sth, Seq("corpus_id", "__th"))
      .groupBy(col("new_id"), col("corpus_id"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__ni"))
    inter
      .select(col("new_id"), col("corpus_id"),
        (lit(1.0) - col("__ni") / (col("__na") + col("__nb") - col("__ni")))
          .as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
  }

  /** Exact word-n-gram Jaccard similarity for candidate pairs sharing at
    * least one shingle. Exact but candidate-join-bounded: cost grows with
    * shingle collision rate, so production use pre-filters by
    * MinHash/SimHash; this is the precise scorer on survivors.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.2): DataFrame =
    jaccardOverShingles(docShingles(docs, textCol, idCol, n), idCol,
      minJaccard)

  /** Asymmetric shingle containment |A∩B|/|A| (and /|B|) per candidate
    * pair — the dedup refinement Jaccard misses: a short document
    * quoted wholesale inside a long one has LOW Jaccard (the union is
    * big) but containment ≈ 1 on the short side. Returns ordered pairs
    * (id_a < id_b) with both directions and the filter on the max:
    * (id_a, id_b, containment_a, containment_b).
    *
    * Same shuffle shape as [[ngramJaccardPairs]]: shingle inverted-index
    * self-join (never all-pairs), per-doc shingle counts joined back.
    */
  def ngramContainmentPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minContainment: Double = 0.5): DataFrame = {
    val sh = docShingles(docs, textCol, idCol, n)
    val counts = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("id_a"), col("shingle"))
    val b = sh.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("__na")),
        "id_a")
      .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("__nb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / col("__na")).as("containment_a"),
        (col("n_inter") / col("__nb")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b"))
        >= minContainment)
  }

  /** Distinct word-n-gram shingles per document: (idCol, shingle). */
  private def docShingles(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    // MLlib NGram slides an iterator — O(tokens) per doc. The HOF
    // alternative (transform over sequence + slice) is O(tokens²): slice
    // copies O(len) per position, which measured 2-3s on 300 long docs.
    val ngram = new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol("toks").setOutputCol("__shingles")
    ngram.transform(toks)
      .select(col(idCol), explode(col("__shingles")).as("shingle"))
      .distinct()
  }

  /** Shingle inverted-index self-join → exact Jaccard per co-shingled
    * pair. Factored so callers can pre-prune the shingle frame (see
    * [[fuzzyDedupPairs]]) without changing the scoring arithmetic.
    */
  private def jaccardOverShingles(shingles: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    val counts = shingles.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val a = shingles.select(col(idCol).as("id_a"), col("shingle"))
    val b = shingles.select(col(idCol).as("id_b"), col("shingle"))
    val inter = a.join(b, "shingle").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    scoreJaccard(inter, counts, idCol, minJaccard)
  }

  private def scoreJaccard(inter: DataFrame, counts: DataFrame,
      idCol: String, minJaccard: Double): DataFrame =
    inter
      .join(counts.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(counts.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** The production fuzzy-dedup shape: cheap LSH candidate generation
    * (SimHash bands — one projection + a band-key self-join) followed by
    * exact n-gram Jaccard rescoring of ONLY the candidate pairs, in that
    * order: the shingle frame is pruned to candidate documents (left-semi
    * on both sides) BEFORE the inverted-index self-join, and the exploded
    * pair stream is pruned to candidate pairs before aggregation — no
    * exact-scoring work ever touches a non-candidate document. At 100 TB
    * the candidate set is orders of magnitude smaller than all-pairs;
    * exactness of the final SCORE is preserved, but candidate RECALL
    * follows [[simhashNearDups]]'s band bound: guaranteed only for pairs
    * within hamming numBands−1, probabilistic beyond. Bands auto-widen
    * to 8 (8-bit keys, guarantee ≤7) when maxHamming asks for more than
    * the 4-band guarantee of ≤3; pass `numBands` explicitly to trade
    * bucket selectivity against recall.
    *
    * `maxShingleDf` (0 = off) is the skew guard for web-scale corpora:
    * shingles occurring in more than that many candidate documents
    * (stop-shingles like "of the and") are dropped from the shingle
    * space — both from the inverted index and the per-doc counts, so the
    * score stays a true Jaccard over the df-filtered vocabulary — which
    * bounds the worst bucket of the self-join to maxShingleDf² instead
    * of (corpus df)².
    */
  def fuzzyDedupPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 16, n: Int = 3, minJaccard: Double = 0.5,
      numBands: Int = 0, maxShingleDf: Int = 0): DataFrame = {
    val bands = if (numBands > 0) numBands else if (maxHamming <= 3) 4 else 8
    // candidates feed three consumers (both unions of candIds + the pair
    // semi-join); persist so the band self-join runs once
    val candidates = simhashNearDups(docs, textCol, idCol, maxHamming, bands)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = candidates.select(col("id_a").as(idCol))
      .union(candidates.select(col("id_b").as(idCol)))
      .distinct()
    // candidate-first: only candidate documents' shingles enter the
    // inverted index (left-semi prune feeds BOTH sides of the self-join)
    val candShingles = docShingles(docs, textCol, idCol, n)
      .join(candIds, Seq(idCol), "left_semi")
    val shingles =
      if (maxShingleDf <= 0) candShingles
      else candShingles.join(
        candShingles.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxShingleDf)
          .select("shingle"),
        Seq("shingle"), "left_semi")
    val counts = shingles.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val a = shingles.select(col(idCol).as("id_a"), col("shingle"))
    val b = shingles.select(col(idCol).as("id_b"), col("shingle"))
    // prune to candidate PAIRS before aggregation: co-shingled pairs of
    // two candidate docs that SimHash never banded together die here,
    // not in the agg state
    val inter = a.join(b, "shingle").filter(col("id_a") < col("id_b"))
      .join(candidates, Seq("id_a", "id_b"), "left_semi")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    scoreJaccard(inter, counts, idCol, minJaccard)
  }

  /** Near-dup pairs → dedup clusters → deterministic survivors: the
    * full production dedup (transitive closure via
    * graft.operators.ConnectedComponents, survivor = min id per
    * component). Returns every doc with its component and a keep flag.
    */
  def dedupClusters(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 8): DataFrame =
    dedupClustersFromPairs(docs, idCol,
      simhashNearDups(docs, textCol, idCol, maxHamming))

  /** [[dedupClusters]] with the pair scorer factored out: any near-dup
    * pair frame (id_a, id_b) — SimHash-banded, MinHash-LSH, exact
    * n-gram Jaccard — closes into components and min-id survivors the
    * same way. The deterministic-scorer form ([[ngramJaccardPairs]])
    * is the oracle-checkable catalog entry: given the same pair set,
    * the closure + keep flag are exact on both engines (VERDICT r10).
    */
  def dedupClustersFromPairs(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = graft.operators.ConnectedComponents.components(
      docs.select(col(idCol)), pairs, idCol, "id_a", "id_b")
    comps.withColumn("keep",
      (col(idCol) === col("component")).cast("int"))
  }

  /** One-row corpus dataset card — the summary table every training
    * corpus publishes before anyone trains on it: document/token/char
    * volume, exact-duplicate mass (n_docs − distinct texts — an exact
    * identity, no pair enumeration), language mix (count + Shannon
    * entropy, the entropy_mix doctrine: ≤|langs| double terms inside
    * one rounding), head near-copy mass (n_docs − distinct 16-token
    * HEAD fingerprints — truncation variants of one page share a head
    * even when trailing bytes differ, so this catches what exact-text
    * identity misses), and mean quality under the curateCorpus
    * scoring formula (per-text scores micro-quantized to longs, so
    * the corpus mean is exact integer algebra with ONE final
    * division).
    *
    * Scale shape: ONE scan into a (text, lang) group (dup copies
    * collapse immediately — the stats ride the group row weighted by
    * its count), then a text-keyed re-aggregation for distinct/dup
    * mass and a lang-keyed one (vocabulary-bounded) for the mix; the
    * three 1-row summaries broadcast-join into the report row.
    */
  def corpusReport(docs: DataFrame, textCol: String,
      langCol: String): DataFrame = {
    // no reserved-name guard: the opening select projects the input
    // down to two renamed columns, so no caller column can collide
    // (documents itself carries an n_chars the output also uses)
    val dec = "decimal(38,0)"
    val g = docs
      .select(col(textCol).as("__text"), col(langCol).as("__lang"))
      .groupBy("__text", "__lang")
      .agg(count(lit(1)).as("__n"))
    // per-group text statistics: THE textStatCols expressions (shared
    // with textStats/withTextStats/curateCorpus — one formula to
    // maintain), micro-quantized on the group row; the 6-dp-rounded
    // quality is re-rounded at micro scale, and the oracle mirrors the
    // same double rounding
    val tsc = textStatCols("__text").toMap
    val stats = g.select(col("__text"), col("__lang"), col("__n"),
      tsc("token_count").cast("long").as("__tc"),
      tsc("char_count").cast("long").as("__cc"),
      round(tsc("quality_score") * 1000000.0).cast("long").as("__qm"))
    val totals = stats.agg(
      sum("__n").as("n_docs"),
      sum(col("__n").cast(dec) * col("__tc").cast(dec)).as("__ts"),
      sum(col("__n").cast(dec) * col("__cc").cast(dec)).as("__cs"),
      sum(col("__n").cast(dec) * col("__qm").cast(dec)).as("__qs"))
    // distinct texts: the inner guards consume __n/__tc/__qm and the
    // OUTER count consumes the inner sum — without that last link
    // Catalyst prunes the sum, collapses the two-level grouping into
    // a bare DISTINCT, and the branch re-scans the corpus (the
    // consume-trick must hold at EVERY level)
    val texts = stats.groupBy("__text")
      .agg(sum(when(col("__tc") >= 0 && col("__qm") >= 0, col("__n")))
        .as("__nd"))
      .agg(count(when(col("__nd") >= 0, lit(1))).as("distinct_texts"))
    val headFp = md5(array_join(
      slice(tokens(col("__text")), 1, 16), " ").cast("binary"))
    val heads = stats.groupBy(headFp.as("__fp"))
      .agg(sum(when(col("__tc") >= 0 && col("__qm") >= 0, col("__n")))
        .as("__nh"))
      .agg(count(when(col("__nh") >= 0, lit(1))).as("__distinct_heads"))
    val langs = stats.groupBy("__lang")
      .agg(sum(when(col("__tc") >= 0 && col("__qm") >= 0, col("__n")))
        .as("__c"))
      .agg(count(lit(1)).as("n_langs"),
        round(log(sum("__c").cast("double")) -
          sum(col("__c").cast("double") * log(col("__c").cast("double"))) /
            sum("__c").cast("double"), 6).as("lang_entropy"))
    totals.crossJoin(broadcast(texts)).crossJoin(broadcast(heads))
      .crossJoin(broadcast(langs))
      .select(col("n_docs"),
        col("__ts").cast("long").as("n_tokens"),
        col("__cs").cast("long").as("n_chars"),
        col("distinct_texts"),
        (col("n_docs") - col("distinct_texts")).as("dup_docs"),
        round((col("n_docs") - col("distinct_texts")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_frac"),
        (col("n_docs") - col("__distinct_heads")).as("head_dup_docs"),
        col("n_langs"), col("lang_entropy"),
        round(col("__qs").cast("double") /
          col("n_docs").cast("double") / 1000000.0, 6).as("mean_quality"),
        round(col("__ts").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_doc_tokens"))
  }

  /** Per-source duplication profile — WHICH source is polluting the
    * mix: for every source, its document count, how many of its
    * documents have an exact-duplicate text ANYWHERE in the corpus,
    * and how many share a text with ANOTHER source (cross-source
    * duplication — the overlap that double-counts content when
    * sources are weighted independently, and the direct signal that
    * two feeds crawl the same site). Identity is exact text when
    * `headTokens` = 0, or the md5 fingerprint of the first
    * `headTokens` tokens — the head near-copy proxy that catches
    * truncation variants (the catalog entry's choice). Either way no
    * pair enumeration: the per-key table carries (total copies,
    * distinct sources) and every per-source row re-reads it.
    * Returns (srcCol, n_docs, dup_docs, cross_source_docs, dup_frac).
    *
    * Scale shape: one (key, source) group, one key-keyed
    * re-aggregation that reuses its exchange, one hash join back,
    * one source-keyed (bounded) rollup.
    */
  def dupBySource(docs: DataFrame, textCol: String,
      srcCol: String, headTokens: Int = 0): DataFrame = {
    require(headTokens >= 0, "headTokens must be >= 0")
    requireNoReserved(docs, Seq("__text", "__n", "__nd", "__nsrc",
      "n_docs", "dup_docs", "cross_source_docs", "dup_frac"))
    val key =
      if (headTokens == 0) col(textCol)
      else md5(array_join(
        slice(tokens(col(textCol)), 1, headTokens), " ").cast("binary"))
    val g = docs
      .select(key.as("__text"), col(srcCol))
      .groupBy(col("__text"), col(srcCol))
      .agg(count(lit(1)).as("__n"))
    // per-text totals: copies anywhere + distinct sources; the guard
    // consumes __n so the branch reuses g's exchange
    val t = g.groupBy("__text")
      .agg(sum(when(col("__n") >= 1, col("__n"))).as("__nd"),
        count(lit(1)).as("__nsrc"))
    g.join(t, "__text")
      .groupBy(srcCol)
      .agg(sum("__n").as("n_docs"),
        sum(when(col("__nd") >= 2, col("__n")).otherwise(0L))
          .as("dup_docs"),
        sum(when(col("__nsrc") >= 2, col("__n")).otherwise(0L))
          .as("cross_source_docs"))
      .select(col(srcCol), col("n_docs"), col("dup_docs"),
        col("cross_source_docs"),
        round(col("dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_frac"))
  }

  /** Leakage-safe train/eval split: assign WHOLE near-duplicate
    * clusters to splits, so a document and its near-copy can never
    * straddle train and eval — the classic contamination vector a
    * row-wise hash split (corpus_curation's split_bucket; Kandpal
    * et al.'s dedup-before-eval argument) cannot close, because two
    * near-identical docs hash independently. Pairs → transitive
    * closure ([[graft.operators.ConnectedComponents]]) → the SPLIT KEY
    * IS THE COMPONENT: split_bucket = md5(component)[0,2), is_train =
    * bucket < hex(trainBuckets) (expected train share
    * trainBuckets/256, exact per-cluster). Returns (idCol, component,
    * cluster_size, split_bucket, is_train).
    *
    * Scale shape: the closure is the pointer-jumping CC operator;
    * cluster sizes are a map-side-combinable hash aggregate hash-
    * joined back (never a window over the component key); the split
    * itself is a pure projection.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainBuckets: Int = 205): DataFrame = {
    require(trainBuckets >= 1 && trainBuckets <= 255,
      "trainBuckets must be in [1, 255]")
    requireNoReserved(docs, Seq("component", "cluster_size",
      "split_bucket", "is_train"))
    val comps = graft.operators.ConnectedComponents.components(
      docs.select(col(idCol)), pairs, idCol, "id_a", "id_b")
    val sizes = comps.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    val bucket = substring(md5(col("component").cast("string")), 1, 2)
    comps.join(sizes, "component")
      .select(col(idCol), col("component"), col("cluster_size"),
        bucket.as("split_bucket"),
        (bucket < lit(f"$trainBuckets%02x")).cast("int").as("is_train"))
  }

  /** Per-dimension embedding-table QA — the sanity gate before any of
    * the ANN/dedup family touches a corpus of vectors: for each
    * dimension, the support, NaN and exact-zero counts, mean and
    * sample std (micro-unit-quantized integer moments in
    * decimal(38,0) — order-free exact sums, one final division each),
    * and min/max (NaN-excluded on both engines). A dimension that is
    * all-zero (dead), NaN-poisoned, or orders of magnitude off-scale
    * breaks cosine geometry silently; this table is where that shows.
    * Returns (dim, n, n_nan, n_zero, mean, std, min_val, max_val);
    * std is null when fewer than 2 finite values.
    *
    * Scale shape: ONE map-side-combinable groupBy on ≤dim keys — the
    * vector stream reduces to a dimension-bounded table regardless of
    * corpus size.
    */
  def embeddingQa(emb: DataFrame, embCol: String): DataFrame = {
    requireNoReserved(emb, Seq("dim", "__x", "__m", "n", "n_nan",
      "n_zero", "__ng", "__sm", "__sm2", "mean", "std", "min_val",
      "max_val"))
    val dec = "decimal(38,0)"
    val x = col("__x").cast("double")
    val finite = !isnan(x) && x.isNotNull
    val m = round(x * 1000000.0).cast("long")
    val el = emb.select(posexplode(col(embCol)).as(Seq("dim", "__x")))
    val ng = col("__ng").cast(dec)
    val varNum = (ng * col("__sm2") - col("__sm") * col("__sm"))
      .cast("double")
    val varDen = (ng * (ng - lit(1).cast(dec))).cast("double")
    el.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(isnan(x), 1L).otherwise(0L)).as("n_nan"),
        sum(when(x === 0.0, 1L).otherwise(0L)).as("n_zero"),
        count(when(finite, lit(1))).as("__ng"),
        sum(when(finite, m.cast(dec))).as("__sm"),
        sum(when(finite, m.cast(dec) * m.cast(dec))).as("__sm2"),
        min(when(finite, x)).as("min_val"),
        max(when(finite, x)).as("max_val"))
      .select(col("dim"), col("n"), col("n_nan"), col("n_zero"),
        when(col("__ng") >= 1,
          round(col("__sm").cast("double") / col("__ng") / 1000000.0, 6))
          .as("mean"),
        when(col("__ng") >= 2,
          round(sqrt(varNum / varDen) / 1000000.0, 6)).as("std"),
        col("min_val"), col("max_val"))
  }

  /** Semantic (embedding-space) dedup, end to end: near-dup pairs above
    * `minCosine` via the exact-recall blocked scan
    * ([[cosineNearDupsBlocked]] — KMeans angular cells, recall 1 by the
    * triangle inequality), transitive closure into clusters
    * ([[graft.operators.ConnectedComponents]]), then a KEEP-BEST
    * survivor per cluster: highest `qualityCol` wins, ties to the
    * smallest id — unlike [[dedupClusters]]' min-id survivor, the
    * curation policy here retains the best-quality copy (the longest /
    * highest-scoring document), which is what an LM training pipeline
    * actually wants from semantic dedup. The dedup domain is the inner
    * join of `docs` and `emb` on `idCol` (only embedded docs can be
    * compared; unembedded docs are out of scope by definition).
    * Returns (idCol, component, qualityCol, keep).
    *
    * Scale shape: the pair build never materializes all-pairs (cell
    * blocking), the closure is the pointer-jumping CC operator, and
    * the survivor pick is a map-side-combinable hash aggregate per
    * component (`max(struct(quality, -id))`) hash-joined back — never
    * a window over the component key, so a mega-cluster costs a heavy
    * join key (AQE-splittable) rather than a single-task sort.
    */
  def semanticDedup(docs: DataFrame, emb: DataFrame, idCol: String,
      qualityCol: String, embCol: String, minCosine: Double,
      nCells: Int = 16): DataFrame = {
    requireNoReserved(docs, Seq("__b", "__best_id", "component"))
    val ids = docs.select(col(idCol)).join(emb.select(col(idCol)), idCol)
    val pairs = cosineNearDupsBlocked(
      emb.join(docs.select(col(idCol)), idCol), embCol, idCol,
      minCosine, nCells)
    val comps = graft.operators.ConnectedComponents.components(
      ids, pairs, idCol, "id_a", "id_b")
    val withQ = comps.join(docs.select(col(idCol), col(qualityCol)), idCol)
    val best = withQ.groupBy("component")
      .agg(max(struct(col(qualityCol).as("q"),
        (-col(idCol)).as("negid"))).as("__b"))
      .select(col("component"), (-col("__b.negid")).as("__best_id"))
    withQ.join(best, "component")
      .select(col(idCol), col("component"), col(qualityCol),
        (col(idCol) === col("__best_id")).cast("int").as("keep"))
  }

  /** Embedding-cosine near-duplicates: pairs above a cosine threshold.
    * Exact all-pairs form — production pre-buckets with [[annBucketed]]
    * and runs this as the precision pass on candidates; here it doubles
    * as the oracle-checked ground truth for that pipeline.
    */
  def cosineNearDups(emb: DataFrame, embCol: String, idCol: String,
      minCosine: Double): DataFrame = {
    // norms hoisted to per-row (vs per-pair): pure common-subexpression
    // motion — same operands, bit-identical results, n vs n² sqrt/dot work
    val a = emb.select(col(idCol).as("id_a"), col(embCol).as("__ea"),
      sqrt(dot(col(embCol), col(embCol))).as("__na"))
    val b = emb.select(col(idCol).as("id_b"), col(embCol).as("__eb"),
      sqrt(dot(col(embCol), col(embCol))).as("__nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(when(col("__na") =!= 0 && col("__nb") =!= 0,
          dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb")))
          .otherwise(0.0), 6).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
  }

  /** Exact embedding-cosine near-duplicates with an angular-blocking
    * plan — [[cosineNearDups]]'s all-pairs SEMANTICS without its
    * all-pairs JOIN. Rows are clustered into `nCells` KMeans cells on
    * the unit sphere; a cell pair survives only if the angle between
    * its centroids minus both cell radii could still reach
    * arccos(minCosine). Angular distance is a metric, so by the
    * triangle inequality NO qualifying pair is ever pruned: recall is
    * exactly 1 for ANY clustering, seed, or cell count — the params
    * tune cost, never correctness, which is what lets the bucketed
    * plan share the exact form's all-pairs oracle. The rescore reuses
    * [[cosineNearDups]]'s expression verbatim (same operand order,
    * same rounding) → bit-identical scores.
    *
    * Scale shape: the KMeans fit is sample-bounded ([[quantizerSample]]);
    * centroids/radii are nCells-bounded driver metadata; the member
    * join shuffles on cell ids with the surviving-pair list broadcast.
    * An angularly tight corpus against a low threshold degrades toward
    * all-pairs WORK (never all-pairs memory per task — cells bound the
    * build sides); at a production near-dup threshold (≥ 0.8, cells a
    * few degrees wide) distant cell pairs prune in bulk. Zero-norm
    * rows are dropped up front: their cosine is 0 by the exact form's
    * convention, below any positive threshold — hence
    * `minCosine > 0` is required.
    */
  def cosineNearDupsBlocked(emb: DataFrame, embCol: String, idCol: String,
      minCosine: Double, nCells: Int = 16, seed: Long = 42L): DataFrame = {
    require(minCosine > 0 && minCosine < 1,
      "minCosine must be in (0, 1) — at 0 the zero-norm convention " +
        "differs from the exact form; use cosineNearDups")
    require(nCells >= 2, "nCells must be >= 2")
    requireNoReserved(emb, Seq("__n", "__u", "__h", "__vec", "__cell",
      "__cent", "__ca", "__cb", "__r"))
    val spark = emb.sparkSession
    // unit vectors (via unitF below) feed the FIT only (k-means on the
    // unit sphere groups by direction); scoring always uses the raw
    // arrays. The MLlib-vector column is gone with the distributed fit
    // (opt r19) — the cache is one array column lighter.
    val vecs = emb.select(col(idCol), col(embCol),
        sqrt(dot(col(embCol), col(embCol))).as("__n"))
      .filter(col("__n") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a corpus with fewer than two nonzero-norm rows has no pairs
    // (and neither quantizer can fit) — return the typed empty result
    // instead of crashing. limit(2) short-circuits: the guard never
    // scans the corpus (review finding — the old placement paid a
    // full sample count on the tree path, whose own fit sample is
    // bounded independently).
    if (vecs.limit(2).count() < 2) {
      vecs.unpersist()
      val idT = emb.schema(idCol).dataType
      return emb.sparkSession.emptyDataFrame
        .select(lit(null).cast(idT).as("id_a"),
          lit(null).cast(idT).as("id_b"), lit(0.0).as("cosine_sim"))
    }
    // k capped at the fit-set size; fewer cells only coarsens the
    // blocking — correctness is seed/k-free. Past the tree threshold
    // (the doctrine regime: nCells ∝ corpus) the fit and the per-row
    // assignment go through the two-level quantizer — the blocked
    // plan's own n·nCells terms were the same f² shape the §×100
    // probe measured on knn_join, and the recall-1 law is proven for
    // ANY clustering/assignment, so the quantizer swap can only move
    // cost, never results (the spec pins blocked == exact all-pairs
    // across the threshold). Fit and assignment both act on the
    // float-cast UNIT vectors (direction blocking, the __vec
    // rationale); radii still measure raw-embedding angles to the
    // float centroids, and the slack absorbs the cast ulps.
    val unitF = transform(col(embCol),
      x => (x.cast("double") / col("__n")).cast("float"))
    val units = vecs.select(col(idCol), unitF.as("__u"))
    val (centArrays: Seq[Array[Float]], assigned: DataFrame) =
      if (nCells >= treeCellThreshold) {
        val tq = fitTreeQuantizer(units, "__u", idCol, nCells, seed)
        val asg = vecs
          .select(col(idCol), col(embCol), col("__n"),
            graft.functions.TreeCells.nearestLeaf(unitF, tq.supFlat,
              tq.leafFlat, tq.groupStart, tq.dim).as("__cell"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (tq.leafArrays, asg)
      } else {
        // Bounded DRIVER-SIDE fit (opt r19, the pqCodebookOf/
        // fitTreeQuantizer doctrine): coarse-quantizer training is a
        // bounded-sample problem at every corpus size, and the blocked
        // plan's recall is exactly 1 for ANY centroids (the law above;
        // scores come from the raw arrays) — so the distributed MLlib
        // fit here bought ~14 scheduler-bound jobs (sample count +
        // fallback count + kmeans|| init + 5 Lloyd passes) for
        // something one smallest-xxhash64 TakeOrdered collect +
        // localKMeans computes. Deterministic: the sample is
        // partition-order independent, the RNG seeded. Assignment
        // swaps MLlib's transform for the family's literal-centroid
        // codegen rule on the same unit-float vectors — any
        // assignment is correct, and radii are computed from the
        // cells actually assigned.
        val sample = quantizerSample(units, "__u", idCol, 16384)
        val kmK = math.min(nCells, sample.length)
        val cents = localKMeans(sample, kmK, seed, iters = 8)
        val asg = vecs
          .select(col(idCol), col(embCol), col("__n"),
            nearestCellExpr(unitF, cents.map(_.toSeq)).as("__cell"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (cents, asg)
      }
    try {
    val centroids = centArrays.zipWithIndex.map { case (c, i) => (i, c) }
    val centDf = spark.createDataFrame(centroids).toDF("__cell", "__cent")
    // per-cell angular radius: max angle(member, own centroid); cosine
    // is scale-invariant so the raw embedding serves. The float→double
    // chain can wobble in the last ulps — the SLACK below absorbs it
    // (slack only admits extra candidate cell pairs, never drops one)
    val radii = assigned.join(broadcast(centDf), "__cell")
      .select(col("__cell"),
        acos(least(greatest(cosine(col(embCol), col("__cent")),
          lit(-1.0)), lit(1.0))).as("__r"))
      .groupBy("__cell").agg(max("__r").as("__r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // the radii collect materialized `assigned`'s cache end to end;
    // everything downstream reads that cache, so the fit-side cache can
    // go now instead of leaking into the caller's session
    vecs.unpersist()
    val slack = 1e-4
    val thetaMax = math.acos(math.min(1.0, math.max(-1.0, minCosine)))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val cents = centArrays.map(c => unit(c.map(_.toDouble)))
    def centAngle(i: Int, j: Int): Double = {
      val d = cents(i).zip(cents(j)).map { case (a, b) => a * b }.sum
      math.acos(math.min(1.0, math.max(-1.0, d)))
    }
    // ordered survivors (both directions for i != j, (i,i) once): every
    // unordered member pair then appears exactly once under id_a < id_b
    val survivors = for {
      i <- cents.indices; j <- cents.indices
      if radii.contains(i) && radii.contains(j)
      if centAngle(i, j) - radii(i) - radii(j) <= thetaMax + slack
    } yield (i, j)
    val survDf = spark.createDataFrame(survivors).toDF("__ca", "__cb")
    val a = assigned.select(col(idCol).as("id_a"), col(embCol).as("__ea"),
      col("__n").as("__na"), col("__cell").as("__ca"))
    val b = assigned.select(col(idCol).as("id_b"), col(embCol).as("__eb"),
      col("__n").as("__nb"), col("__cell").as("__cb"))
    // the pair list is the operator's bounded OUTPUT (pairs above a
    // production threshold ≪ corpus): persist + count materializes it
    // so the finally can release the corpus-sized fit/assign caches
    // without the caller's later action recomputing the pipeline. The
    // returned frame stays persisted (small; evictable) — callers that
    // are done with it may .unpersist() it.
    val pairs = a.join(broadcast(survDf), Seq("__ca"))
      .join(b, Seq("__cb"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(when(col("__na") =!= 0 && col("__nb") =!= 0,
          dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb")))
          .otherwise(0.0), 6).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    pairs
    } finally {
      vecs.unpersist()
      assigned.unpersist()
    }
  }

  /** Exact repeated-span regions — ExactSubstr-style dedup (the
    * substring-level companion to document-level near-dup: long spans
    * duplicated ACROSS documents are boilerplate/licenses/templates
    * that survive doc-level dedup and measurably hurt LM training).
    * Every n-token window whose exact text occurs ≥ `minDf` times
    * corpus-wide marks its token range; overlapping or touching marked
    * windows (start gap ≤ n) merge into maximal duplicated regions.
    * Returns (idCol, span_start, span_end, n_windows): token offsets
    * [span_start, span_end) and how many flagged windows merged into
    * the region — the rows a curation pass cuts out of each doc.
    *
    * Scale shape: NGram slides an O(tokens) iterator (the HOF
    * slice-per-position alternative is O(tokens²) — docShingles note);
    * df is a map-side-combinable HASH AGGREGATE per span (each map
    * partition contributes ONE row per distinct span it saw), and the
    * flagged spans semi-join back onto the span stream as a
    * shuffle_hash probe — the edge_jaccard adjacency-attach shape.
    * The earlier one-scan form (`count(1) OVER (PARTITION BY
    * __span)`) shuffled and SORTED the whole exploded window stream
    * keyed by span text: a boilerplate/license span present in most
    * documents — precisely this op's target — lands its entire
    * postings list in one sort. Here the heavy key costs a streaming
    * hash probe, never a sort, and the rollup side is pre-shrunk by
    * the partial aggregate. Price: the span stream derives twice
    * (scan→NGram→explode has no exchange for ReuseExchange to share);
    * two cheap scans beat one skew-sorted exchange at 100 TB.
    * Then ONE exchange on the doc for the merge window,
    * partition-bounded by doc length. Span keys here are the raw
    * n-token strings (oracle-comparable); at 100 TB swap the join key
    * to `xxhash64(span)` — 8-byte shuffle keys, identical regions up
    * to 64-bit collisions.
    */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 20, minDf: Long = 2L): DataFrame = {
    require(n >= 2, "span length n must be >= 2 tokens")
    require(minDf >= 2, "minDf < 2 would flag every window")
    requireNoReserved(docs, Seq("__toks", "__spans", "__span", "__pos",
      "__df", "__brk", "__seg", "span_start", "span_end", "n_windows"))
    // widened (opt r18): tokenize + the n-gram shingling + posexplode
    // are the map side of the df count — heavy per row, one task on a
    // one-row-group source; integer counts and per-id windows after
    val toks = widen(docs).select(col(idCol), tokens(col(textCol)).as("__toks"))
    val ngram = new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol("__toks").setOutputCol("__spans")
    val spans = ngram.transform(toks)
      .select(col(idCol), posexplode(col("__spans"))
        .as(Seq("__pos", "__span")))
    val w = Window.partitionBy(idCol).orderBy("__pos")
    val flagged = spans.groupBy("__span")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__span")
    spans
      .join(flagged.hint("shuffle_hash"), Seq("__span"), "left_semi")
      // windows at starts p, p' overlap/touch iff p' - p <= n: break a
      // new region on a larger gap, then segment-id by running sum
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(w) <= n, 0L)
          .otherwise(1L))
      .withColumn("__seg", sum("__brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__seg"))
      .agg(min("__pos").cast("int").as("span_start"),
        (max("__pos") + n).cast("int").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Sequence-packing manifest: concatenate each group's documents in
    * deterministic `idCol` order into one token stream, slice the
    * stream into fixed `capacity`-token bins (LM context windows), and
    * emit one row per (document × bin it lands in) — exactly the
    * manifest a training loader replays to materialize packed
    * examples without ever concatenating the corpus itself. Documents
    * straddle bin boundaries (standard LM packing: the stream is cut
    * every `capacity` tokens, not padded), so a row carries which
    * slice of the doc fills which range of the bin:
    * (groupCol, bin_id, idCol, doc_slice_start, bin_offset, slice_len)
    * — all exact integers. Zero-length docs occupy no stream space and
    * emit no rows.
    *
    * Scale shape: ONE exchange on the group (the running-total
    * window), then a per-row `sequence()` explode bounded by
    * ceil(len/capacity)+1 bins per doc — no corpus-wide state, no
    * global window (packing is per group — source shard, language,
    * curriculum stage — which is also how production packing runs).
    */
  def sequencePack(docs: DataFrame, groupCol: String, idCol: String,
      lenCol: String, capacity: Long): DataFrame = {
    require(capacity >= 1, "capacity must be at least 1 token")
    requireNoReserved(docs, Seq("__len", "__cum", "__s", "__e", "bin_id",
      "doc_slice_start", "bin_offset", "slice_len"))
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(groupCol), col(idCol), col(lenCol).cast("long").as("__len"))
      .filter(col("__len") > 0)
      .withColumn("__cum", sum("__len").over(w))
      .withColumn("__s", col("__cum") - col("__len"))
      .withColumn("bin_id",
        explode(sequence(expr(s"__s div $capacity"),
          expr(s"(__cum - 1) div $capacity"))))
      .select(col(groupCol), col("bin_id"), col(idCol),
        (greatest(col("bin_id") * capacity, col("__s")) - col("__s"))
          .as("doc_slice_start"),
        (greatest(col("bin_id") * capacity, col("__s"))
          - col("bin_id") * capacity).as("bin_offset"),
        (least((col("bin_id") + 1) * capacity, col("__cum"))
          - greatest(col("bin_id") * capacity, col("__s")))
          .as("slice_len"))
  }

  /** Bottom-k fingerprint per document: the k smallest shingle hashes
    * (a winnowing-style sketch — two docs' fingerprints overlap in
    * proportion to their shingle Jaccard). One narrow aggregation, no
    * self-join. The default hash is xxhash64 (fastest, engine-
    * internal); the catalog entry passes the md5-60-bit hash instead —
    * `conv(substr(md5(s),1,15),16,10)` — which DuckDB reproduces as
    * `('0x'||substr(md5(s),1,15))::BIGINT`, making the whole sketch
    * oracle-exact (VERDICT r10; the hash_split playbook). 15 hex
    * digits < 2^60, so the long never overflows and both parses agree.
    */
  def fingerprintBottomK(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, k: Int = 8,
      hashOf: Column => Column = xxhash64(_)): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val ngram = new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol("toks").setOutputCol("__shingles")
    // bottom_k is a custom TypedImperativeAggregate (O(k) buffer per
    // group) — collect_set would hold every distinct shingle hash per
    // doc before truncating (graft.functions.BottomK)
    ngram.transform(toks)
      .select(col(idCol), explode(col("__shingles")).as("shingle"))
      .select(col(idCol), hashOf(col("shingle")).as("h"))
      .groupBy(idCol)
      .agg(graft.functions.BottomK.bottomK(docs.sparkSession, col("h"), k)
        .as("fingerprint"))
  }

  /** The DuckDB-reproducible 60-bit shingle hash for
    * [[fingerprintBottomK]] (see its scaladoc). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** The SECOND 60-bit slice of the same md5 (hex chars 17..31) — the
    * independent companion to [[md5Hash60]] for double hashing, which
    * DuckDB reproduces as `('0x' || substr(md5(s), 17, 15))::BIGINT`
    * (the bloom_decontaminate oracle). */
  def md5Hash60b(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 17, 15), 16, 10).cast("long")

  // ── similarity search over embeddings ────────────────────────────────

  /** Cosine similarity of every row against one query vector (both as
    * array<float>, math in double). `aggregate` HOF folds sequentially —
    * deterministic summation order, which the oracle twin mirrors.
    */
  def cosineVsQuery(emb: DataFrame, embCol: String, idCol: String,
      queryId: Long): DataFrame = {
    // the query norm rides in the broadcast row instead of refolding
    // per corpus row; identical op sequence to cosine(), so scores are
    // bit-unchanged (see knnJoin's norm-hoist rationale)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(embCol).as("__q"),
        sqrt(dot(col(embCol), col(embCol))).as("__nq"))
    val joined = emb.crossJoin(broadcast(q))
    joined.select(col(idCol),
      when(sqrt(dot(col(embCol), col(embCol))) =!= 0 &&
          col("__nq") =!= 0,
        dot(col(embCol), col("__q")) /
          (sqrt(dot(col(embCol), col(embCol))) * col("__nq")))
        .otherwise(0.0).as("cosine_sim"))
  }

  /** Product quantization (PQ): split each embedding into `m`
    * contiguous subvectors, learn a `k`-codeword KMeans codebook per
    * subspace (sample-fitted, seeded), and encode every vector as m
    * small codes — the faiss-style compression an embedding store
    * runs at 100 TB (dim·4 bytes → m·log₂k bits: 128-dim float32 at
    * m=8, k=256 is 64×). Returns (idCol, codes array<int> of length m,
    * recon_mse) — recon_mse is the mean squared reconstruction error
    * against the decoded codewords, the quantity PQ training
    * minimizes subspace-wise. Ties in the argmin break to the lowest
    * code id (array_position finds the first minimum) → deterministic.
    *
    * Scale shape: m sample-bounded fits produce m·k·(dim/m) floats of
    * driver metadata (one small codebook); encoding is then ONE
    * projection pass — the codebook enters the plan as a LITERAL and
    * the per-subspace argmin composes from codegen'd HOFs. No join,
    * no shuffle, no model object at scoring time.
    */
  def pqQuantize(emb: DataFrame, embCol: String, idCol: String,
      m: Int = 4, k: Int = 16, seed: Long = 42L): DataFrame = {
    require(m >= 1 && k >= 2 && k <= (1 << 20),
      "need m >= 1 subspaces and 2 <= k <= 2^20 codewords")
    withDim(emb, embCol, idCol, idT => Seq(lit(null).cast(idT).as(idCol),
        lit(null).cast("array<int>").as("codes"),
        lit(0.0).as("recon_mse"))) { dim =>
      require(dim % m == 0, s"embedding dim $dim must divide into m=$m " +
        "equal subvectors")
      val codebook = pqCodebookOf(emb, embCol, idCol, dim, m, k, seed)
      // one-pass encode via the native kernels (graft.functions.PqOps —
      // bit-identical to the HOF argmin form they replaced, r11): codes
      // from the per-subspace argmin, recon from the ADC of the row's
      // own codes (the distance to the argmin codeword IS the min). The
      // SAME encode Column instance feeds both outputs, so codegen's
      // subexpression elimination evaluates it once per row.
      val codes = graft.functions.PqOps.pqEncode(col(embCol), codebook)
      emb.select(col(idCol), codes.as("codes"),
        round(graft.functions.PqOps.pqAdc(col(embCol), codes, codebook)
          / dim, 6).as("recon_mse"))
    }
  }

  /** Squared L2 between two float arrays, sequential-fold double. */
  private[engine] def pqSqDist(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (a, b) =>
      (a.cast("double") - b) * (a.cast("double") - b)), lit(0.0), _ + _)

  /** PQ asymmetric-distance top-k (ADC): queries stay full-precision,
    * the corpus is scanned as PQ CODES — each (query, row) score sums
    * the query's distance to the row's m codewords, i.e. the exact L2
    * to the row's RECONSTRUCTION (spec-pinned identity; zero decode
    * materialized). The payoff of [[pqQuantize]]: at 100 TB the scan
    * reads m small ints per row instead of dim floats.
    *
    * Scoring is one [[graft.functions.QueryBatch]] call per corpus
    * row: the row is encoded ONCE ([[graft.functions.PqOps.encode]]),
    * and each query scores it with m lookups into its ADC table, built
    * once on the driver from one ≤|Q|-row collect — the sums
    * [[graft.functions.PqOps.adc]] forms, in the same order, so the
    * distances are bit-identical. The per-pair plan it replaces
    * (`crossJoin(broadcast(queries))`) re-ran the encode once per
    * (row, query) pair: 319,995 encodes for 64,000 rows × 5 queries,
    * against 64,000 here. Returns (query_id, neighbor_id, adc_dist,
    * rank); ties break to the lower neighbor id. Self-matches are
    * excluded.
    */
  def pqTopK(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int = 10, m: Int = 4, kCode: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(k >= 1, "k must be at least 1")
    require(m >= 1 && kCode >= 2 && kCode <= (1 << 20),
      "need m >= 1 subspaces and 2 <= kCode <= 2^20 codewords")
    withDim(emb, embCol, idCol, rankedColumns("adc_dist")) { dim =>
      require(dim % m == 0, s"embedding dim $dim must divide into m=$m " +
        "equal subvectors")
      // ONE codebook fit serves both the corpus encode and the query
      // lookup tables (pqQuantize would refit identically — seeded)
      val codebook = pqCodebookOf(emb, embCol, idCol, dim, m, kCode, seed)
      // one ADC table per query; a query with a null element or the wrong
      // length gets none (its per-pair ADC was null)
      val (flat, _, kk, sub) = graft.functions.PqOps.flatten(codebook)
      val qs = queryRows(emb, embCol, idCol, queryIds)
      val tables = qs.map { r =>
        val (x, hasNull) =
          graft.functions.QueryBatch.decodeCollected(r.getSeq[Any](1))
        if (x == null || hasNull || x.length != m * sub) null
        else graft.functions.PqOps.adcTable(x, flat, m, kk, sub)
      }
      val scored = scoreEach(emb,
        graft.functions.PqOps.pqEncode(col(embCol), codebook), idCol,
        new graft.functions.QueryBatch.PqAdc(qs.map(_.getLong(0)), tables,
          m, kk),
        round(col("__p.adc"), 6).as("adc_dist"))
      // bounded-heap ranking, NOT a rank window: the whole point of PQ is
      // scanning m small ints per row at 100 TB — a per-query window sort
      // of every ADC score would throw that away (see topKBy)
      topKBy(scored, "query_id", "neighbor_id", "adc_dist", k,
        smallestFirst = true)
    }
  }

  /** IVF+PQ composed search (the production 100 TB ANN shape, e.g.
    * FAISS IVFPQ) as a transient [[IvfPqIndex]]: the coarse fit
    * ([[IvfIndex.fitFor]]) assigns every row its cell, the PQ codebook
    * ([[pqCodebookOf]]) encodes it, and the index query
    * ([[IvfPqIndex.search]]) runs over those in-memory frames. Each
    * query (1) probes its `nprobe` nearest cells by exact squared L2
    * to the centroid, (2) ADC-scores ONLY the PQ codes inside those
    * cells — the scan reads m small ints per candidate row, never the
    * full vector — keeping the best `k·refineFactor` per query in a
    * bounded heap, and (3) re-ranks that shortlist by exact squared L2
    * on the full vectors (a |queries|·k·refineFactor-row join — tiny
    * by construction). Returns (query_id, neighbor_id, l2_dist,
    * rank ≤ k); each copy of a duplicated query id probes its own
    * cells, as on the persisted index.
    *
    * Why compose: cells bound WHICH rows are scanned (I/O ∝
    * nprobe/nCells of the corpus), PQ bounds the BYTES per scanned row
    * (m bytes vs 4·dim), and the refine step restores exact distances
    * where it matters — the three knobs are independent, which is the
    * whole design. At 100 TB: grow nCells with the corpus (cells stay
    * executor-sized), store codes cell-partitioned ([[IvfIndex]]'s
    * layout) so probes prune files, and refineFactor stays a small
    * constant. Both fits are sampled and seeded; every rank is a
    * bounded heap ([[topKBy]]); recall@k floors vs the exact scan are
    * spec-pinned.
    *
    * Default operating point (r11, from the nprobe × kCode × m ×
    * refineFactor recall sweep recorded in BASELINE.md): nprobe 8,
    * kCode 256, refineFactor 8 — measured recall@10 = 0.92 vs the
    * exact scan at sf0.01 (spec floor 0.70). The sweep's shape: PQ
    * quantization error (kCode) dominates recall, shortlist size
    * second, probe count third — so the knee spends its budget on the
    * codebook, keeping m = 4 ints/row scan width.
    */
  def ivfPqTopK(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int = 10, nCells: Int = 16,
      nprobe: Int = 8, m: Int = 4, kCode: Int = 256,
      refineFactor: Int = 8, seed: Long = 42L): DataFrame = {
    require(k >= 1 && refineFactor >= 1, "k and refineFactor must be >= 1")
    require(nprobe >= 1 && nprobe <= nCells, "need 1 <= nprobe <= nCells")
    require(m >= 1 && kCode >= 2 && kCode <= (1 << 20),
      "need m >= 1 subspaces and 2 <= kCode <= 2^20 codewords")
    withDim(emb, embCol, idCol, rankedColumns("l2_dist")) { dim =>
      require(dim % m == 0, s"embedding dim $dim must divide into m=$m " +
        "equal subvectors")
      val (cents, assign, tree) =
        IvfIndex.fitFor(emb, embCol, idCol, nCells, seed)
      val assigned = emb.select(col(idCol), col(embCol),
          assign(col(embCol)).as("__cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val codebook = pqCodebookOf(emb, embCol, idCol, dim, m, kCode,
          seed)
        // expose the fit to the deferred oracle generator (PqOracles),
        // which replays THIS run's fit — the MLlib coarse fit is not
        // refit-reproducible across partitionings — and only the flat
        // rule: a tree fit clears the stash
        lastIvfPqFit.set(
          if (tree.isEmpty) (cents.map(_._2), codebook) else null)
        val coded = assigned.select(col(idCol),
          graft.functions.PqOps.pqEncode(col(embCol), codebook)
            .as("codes"), col("__cell"))
        val queries = assigned.filter(idsIn(assigned, idCol, queryIds))
          .select(col(idCol).as("query_id"), col(embCol).as("__q"))
        // k rows per query: persist + count materializes the result so
        // the corpus-sized assignment cache can be released here
        val result = IvfPqIndex.search(assigned, coded, idCol, embCol,
            new IvfIndex.Prober(emb.sparkSession, cents, tree, pqSqDist),
            codebook, IvfIndex.QueryVectors.collect(queries), k, nprobe,
            refineFactor)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        result.count()
        result
      } finally assigned.unpersist()
    }
  }

  /** All-rows k-NN self-join: EVERY row gets its top-k cosine
    * neighbors — the hard-negative-mining / kNN-dedup / retrieval-
    * augmentation shape, where the query set IS the corpus (unlike
    * [[cosineTopK]]/[[annIvf]], which take a handful of query ids).
    *
    * Scale shape: never the all-pairs cartesian. Each row joins only
    * the cells it PROBES: a seeded sampled KMeans assigns every vector
    * to its cell once, each row derives its `nprobe` nearest cells in
    * ONE projection (centroids enter the plan as a literal array;
    * per-centroid distances + a sort of that nCells-length in-row
    * array — no crossJoin, no per-row shuffle), explodes to nprobe
    * (row, cell) probes, and the cell-keyed equi-join scores
    * nprobe/nCells of the corpus per row. Per-row top-k is the
    * [[topKBy]] bounded heap. Cost is nprobe·|corpus|²/nCells pair
    * scores — grow nCells with the corpus to hold cells
    * executor-sized, exactly the [[IvfIndex]] doctrine.
    *
    * Exactness: with nprobe = nCells every pair is scored exactly once
    * (each candidate lives in exactly one cell), so the result is the
    * brute-force per-row top-k REGARDLESS of the KMeans seed — the
    * catalog entry runs exhaustive probes and is oracle-exact, while
    * pruned probes trade recall for the 1/nCells scan (recall law
    * spec-pinned). Ties break toward the smaller neighbor id, as
    * everywhere in the search family.
    */
  def knnJoin(emb: DataFrame, embCol: String, idCol: String, k: Int = 5,
      nCells: Int = 16, nprobe: Int = 2, seed: Long = 42L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(nprobe >= 1 && nprobe <= nCells, "need 1 <= nprobe <= nCells")
    if (nprobe == nCells && nCells < treeCellThreshold) {
      // Exhaustive probes make the blocking semantically INERT: every
      // pair is scored exactly once whatever the assignment (each
      // candidate lives in one cell, each row probes all cells), so
      // the KMeans fit, the sample count, and the two persists bought
      // nothing but ~15 driver actions and a serial fit scan
      // (opt r18, guide §1.2: don't compute things you throw away).
      // Deterministic hash cells keep the identical cell/probe/heap
      // plan shape — and the identical output, row for row (the
      // brute-force law in ExtensionsSpec covers this path).
      lastKnnJoinFit.set(null)
      lastKnnTreeFit.set(null)
      // `assigned` is deliberately NOT persisted although the scored
      // tail reads it on both join sides (ADVICE r18 item 3): the plan
      // here is scan + one hash projection — re-evaluating it costs a
      // second parquet scan of the (OS-cached) source, strictly less
      // than a MEMORY_AND_DISK write+read round-trip of the same rows
      // plus the persist's materialization action.
      val assigned = widen(emb.select(col(idCol), col(embCol)))
        .withColumn("__cell",
          pmod(xxhash64(col(idCol)), lit(nCells.toLong)).cast("int"))
      return knnScoredTail(assigned, embCol, idCol,
        typedLit((0 until nCells).toList), k)
    }
    withDim(emb, embCol, idCol, rankedColumns("cosine_sim")) { _ =>
      val (centroids, assign, tree) =
        IvfIndex.fitFor(emb, embCol, idCol, nCells, seed)
      // each capture-replay stash holds its own rule's fit and the
      // other is CLEARED: PqOracles.knnPrunedSql replays the FLAT
      // assignment/probe rule, and tree leaves fed through it would
      // generate a silently wrong twin; the tree fit feeds
      // [[PqOracles.knnTreeSql]]
      lastKnnJoinFit.set(if (tree.isEmpty) centroids.map(_._2) else null)
      lastKnnTreeFit.set(tree.orNull)
      val assigned = emb.select(col(idCol), col(embCol),
          assign(col(embCol)).as("__cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val probes = tree match {
          // degenerate corpora can fit fewer leaves than nCells; nprobe
          // at or past the leaf count means exhaustive — probe
          // everything without ranking (order is immaterial to the
          // explode+join)
          case Some(tq) if nprobe >= tq.nLeaves =>
            typedLit((0 until tq.nLeaves).toList)
          case Some(tq) =>
            graft.functions.TreeCells.probes(col(embCol), tq.supFlat,
              tq.leafFlat, tq.groupStart, tq.dim, nprobe,
              tq.superProbeFor(nprobe))
          case None =>
            // centroids as a literal array<struct<cell, centroid>>:
            // probe cells derive row-locally — sort the in-row
            // (dist, cell) array (deterministic: distance ties break on
            // the cell id) and keep the first nprobe
            val centLit = typedLit(centroids.map { case (i, c) =>
              (i, c.toSeq)
            })
            val distStructs = transform(centLit, s =>
              struct(pqSqDist(col(embCol), s.getField("_2")).as("d"),
                s.getField("_1").as("c")))
            transform(slice(sort_array(distStructs), 1, nprobe),
              s => s.getField("c"))
        }
        knnScoredTail(assigned, embCol, idCol, probes, k)
      } finally assigned.unpersist()
    }
  }

  /** Cell count at which the IVF family's coarse quantizer
    * ([[IvfIndex.fitFor]]: [[IvfIndex.build]], [[annIvf]],
    * [[ivfPqTopK]], [[knnJoin]]) switches from the flat MLlib-fit +
    * literal-scan form to the two-level [[TreeQuantizer]]
    * ([[graft.functions.TreeCells]]): under the doctrine (nCells ∝
    * corpus) the flat fit/assign/probe terms are ∝ n·nCells — the f²
    * tail BASELINE.md §×100 measured — while the candidate pair scan
    * they feed is ∝ n. Below the threshold those terms are noise and
    * the flat rule keeps its bit-pinned oracles; at and above it the
    * tree halves the exponent (n·2√nCells). The catalog operating
    * points (nCells ≤ 16) never cross it; the doctrine configs
    * BASELINE.md records (16·f, f ≥ 10) always do. On the tree path a
    * pruned probe is a recall heuristic (spec-pinned), and exhaustive
    * probes (nprobe ≥ leaf count) stay exact — each candidate lives in
    * exactly one leaf regardless of the quantizer. */
  private[engine] val treeCellThreshold = 64

  /** The shared pair-scan tail of [[knnJoin]]'s probe paths:
    * hoisted norms, probe explode, cell-keyed equi-join, bounded-heap
    * per-row top-k. `assigned` carries (idCol, embCol, __cell);
    * `probes` is a row-local array<int> of probe cells.
    *
    * Norms hoisted to one per-row column: [[cosine]] would refold
    * |e| and |q| for EVERY pair — 2/3 of the pair-scan compute is
    * redundant norm work. d / (ne * nq) with precomputed norms is
    * the IDENTICAL op sequence to cosine()'s d / (na * nb), so the
    * result (and the oracle hash) is bit-unchanged. */
  private def knnScoredTail(assigned: DataFrame, embCol: String,
      idCol: String, probes: Column, k: Int): DataFrame = {
    val withNorm = assigned.withColumn("__n",
      sqrt(dot(col(embCol), col(embCol))))
    // pinned join-side exchange (opt r19, §2.4): the cell-keyed join's
    // inputs are byte-light (few MB of vectors) but its output stage
    // computes every candidate-pair dot product — AQE's byte-targeted
    // coalescing folded the pruned path's whole pair scan onto ONE
    // task (stage probe: 1.56 s CPU, 1 task). REPARTITION_BY_NUM on
    // the probe side is the same exchange the join required anyway,
    // now non-coalescable; rows and scores are bit-unchanged.
    val queries = withNorm.select(col(idCol).as("query_id"),
      col(embCol).as("__q"), col("__n").as("__qn"),
      explode(probes).as("__cell"))
      .repartition(assigned.sparkSession.sparkContext.defaultParallelism,
        col("__cell"))
    val candidates = withNorm.select(col(idCol).as("neighbor_id"),
      col(embCol).as("__e"), col("__n").as("__en"), col("__cell"))
    // each candidate lives in ONE cell and a row's probe cells are
    // distinct, so no (query, neighbor) pair scores twice
    val scored = queries.join(candidates, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(col("__en") =!= 0 && col("__qn") =!= 0,
          dot(col("__e"), col("__q")) / (col("__en") * col("__qn")))
          .otherwise(0.0), 6).as("cosine_sim"))
    val result = topKBy(scored, "query_id", "neighbor_id",
        "cosine_sim", k, smallestFirst = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    result
  }

  /** The PQ codebook for these params — the single source of truth
    * shared by [[pqQuantize]] (encode) and [[pqTopK]] (ADC scoring):
    * seeded, sample-fitted, so both paths see identical centers. `dim`
    * comes from the caller, which has already read it (no extra job).
    *
    * Fitted DRIVER-SIDE (r11) on a capped deterministic sample: PQ
    * training is a bounded-sample problem at EVERY corpus size (FAISS
    * trains its codebooks in memory on ≤~100k vectors regardless of
    * index size — more sample stops improving a 256-cell subspace
    * quantizer long before that), so the fit collects the `sampleCap`
    * rows with the smallest xxhash64(id) — one TakeOrdered pass
    * ([[quantizerSample]], primitive float arrays),
    * O(cap) driver memory (cap·dim floats ≈ 4 MB), partition-order
    * independent — and runs seeded kmeans++ and Lloyd locally, the m
    * subspaces in parallel threads. This replaces m distributed MLlib
    * fits whose per-iteration job scheduling dominated the composed
    * search at toy scale (~10 s of ivfpq_topk's 14.7 s at sf0.1,
    * measured) and whose 1/4 hash-sample fit set GREW with the corpus;
    * the driver fit is the same cost at sf0.01 and at 100 TB.
    * kmeans++ init (not plain random) keeps the degenerate-data laws:
    * on data drawn from j distinct prototypes it always seeds distinct
    * prototypes (next center ∝ D², which is 0 on covered points), so
    * codebook-exact corpora reconstruct exactly. A subspace with fewer
    * than k distinct points fits them all exactly, then pads to the
    * common codeword count with duplicates of its last center (never
    * assigned — ties go low) so the codebook stays rectangular even
    * when one dim is constant/degenerate.
    */
  private[engine] def pqCodebookOf(emb: DataFrame, embCol: String, idCol: String,
      dim: Int, m: Int, k: Int, seed: Long, sampleCap: Int = 16384,
      iters: Int = 8): Seq[Seq[Seq[Float]]] = {
    val sub = dim / m
    val sample = quantizerSample(emb, embCol, idCol, sampleCap)
    require(sample.nonEmpty, "cannot fit a PQ codebook on an empty corpus")
    def fitSubspace(j: Int): Seq[Seq[Float]] =
      localKMeans(sample.map(v => v.slice(j * sub, (j + 1) * sub)),
        k, seed + j, iters).map(_.toSeq)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fitted = Await.result(
      Future.sequence((0 until m).map(j => Future(fitSubspace(j)))),
      Duration.Inf)
    // A subspace whose sample has fewer distinct points than codewords
    // stops early (sumD2 == 0 above) with a SMALLER exact codebook —
    // e.g. a zero-padded or constant embedding dim. Pad every subspace
    // to the common max codeword count by duplicating its last center:
    // encode argmins tie to the LOWEST index, so a duplicate at a
    // higher index is never assigned and codes/ADC are bit-identical
    // to the unpadded fit — but the codebook is rectangular again,
    // which PqOps.flatten requires (it would throw on a ragged one).
    val kMax = fitted.map(_.size).max
    fitted.map(cb => cb ++ Seq.fill(kMax - cb.size)(cb.last))
  }

  /** The bounded fit sample of every driver-side quantizer fit
    * ([[pqCodebookOf]], [[fitTreeQuantizer]], [[IvfIndex.buildLocalFit]],
    * [[cosineNearDupsBlocked]], a one-row [[IvfIndex.fitFor]]): the
    * `sampleCap` rows with the smallest (xxhash64(id), id), as float
    * vectors — one TakeOrdered pass, partition-order independent.
    * Collected as primitive arrays straight from the internal rows (no
    * boxed Seq per row); an array<double> column narrows on the driver
    * with the `.toFloat` a cast to float applies (the kernels accept
    * array<double> columns, so the fits must too), and a null element
    * reads as 0, as a boxed collect unboxes it. */
  private[engine] def quantizerSample(emb: DataFrame, embCol: String,
      idCol: String, sampleCap: Int): Array[Array[Float]] = {
    val vFloat = emb.schema(embCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    collectInternal(emb
      .select(col(embCol), xxhash64(col(idCol)).as("__h"), col(idCol))
      .orderBy(col("__h"), col(idCol))
      .limit(sampleCap)
      .select(col(embCol)))
      .map { r =>
        val v = r.getArray(0)
        require(v != null, "cannot fit a quantizer on a null vector")
        Array.tabulate(v.numElements()) { i =>
          if (v.isNullAt(i)) 0f
          else if (vFloat) v.getFloat(i) else v.getDouble(i).toFloat
        }
      }
  }

  /** `df.collect()` as the internal rows the plan produced — for
    * driver-side numeric work that would otherwise unbox every element
    * of every collected `Row`. Runs as one SQL action, like collect. */
  private[engine] def collectInternal(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Seeded local kmeans++ + Lloyd over driver-resident points — the
    * bounded-sample fit kernel shared by [[pqCodebookOf]] (per-subspace
    * codebooks, at `seed + j`) and [[fitTreeQuantizer]] (two-level
    * coarse quantizer). Extracted VERBATIM from the r11 pqCodebookOf
    * fit (same RNG draw order, same double arithmetic, ties to the
    * lowest index everywhere), so PQ codebooks and their capture-replay
    * oracles are bit-unchanged by the extraction. May return FEWER than
    * k centers when the points have fewer distinct values (kmeans++
    * exhausts: sumD2 == 0 ⇒ every point is already a center value). */
  private[engine] def localKMeans(pts: Array[Array[Float]], k: Int,
      seed: Long, iters: Int): Seq[Array[Float]] = {
    val n = pts.length
    val sub = pts.head.length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    // kmeans++: next center drawn ∝ squared distance to the nearest
    // chosen center; sumD2 == 0 ⇒ every point is already a center
    // value — stop with a smaller (exact) codebook
    val centers = scala.collection.mutable.ArrayBuffer(
      pts(rnd.nextInt(n)).clone())
    val dist = pts.map(p => d2(p, centers(0)))
    var exhausted = false
    while (centers.size < math.min(k, n) && !exhausted) {
      val sumD2 = dist.sum
      if (sumD2 == 0) exhausted = true
      else {
        var r = rnd.nextDouble() * sumD2
        var i = 0
        while (i < n - 1 && r >= dist(i)) { r -= dist(i); i += 1 }
        val c = pts(i).clone()
        centers += c
        var p = 0
        while (p < n) {
          val d = d2(pts(p), c)
          if (d < dist(p)) dist(p) = d
          p += 1
        }
      }
    }
    // Lloyd: assign (ties to the lowest center index), mean-update;
    // an emptied center keeps its position
    val kk = centers.size
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < n) {
        var best = 0; var bestD = d2(pts(p), centers(0)); var c = 1
        while (c < kk) {
          val d = d2(pts(p), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(kk)(new Array[Double](sub))
      val counts = new Array[Int](kk)
      p = 0
      while (p < n) {
        val c = assign(p); counts(c) += 1
        var i = 0
        while (i < sub) { sums(c)(i) += pts(p)(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var i = 0
          while (i < sub) {
            centers(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centers.toSeq
  }

  /** A fitted two-level coarse quantizer (see
    * [[graft.functions.TreeCells]] for the kernel and the scale
    * rationale): ~√nCells super-centroids, each owning a group of leaf
    * centroids; a leaf's global cell id is its index in group-
    * concatenation order. The flat arrays are exactly the layout the
    * TreeCells expressions bind. */
  private[graft] final case class TreeQuantizer(supFlat: Array[Float],
      leafFlat: Array[Float], groupStart: Array[Int], dim: Int) {
    def nLeaves: Int = groupStart.last
    def nGroups: Int = groupStart.length - 1
    /** Leaf centroids in global cell-id order (capture-replay /
      * diagnostics — the [[lastKnnJoinFit]] shape). */
    def leafArrays: Seq[Array[Float]] =
      (0 until nLeaves).map(l => leafFlat.slice(l * dim, (l + 1) * dim))
    /** Groups to open for an `nprobe`-cell probe: enough that the
      * expected leaf-candidate count comfortably exceeds nprobe, never
      * fewer than 2 (a boundary row must see its second-best group). */
    def superProbeFor(nprobe: Int): Int = {
      val avg = math.max(1.0, nLeaves.toDouble / nGroups)
      math.min(nGroups, math.max(2, math.ceil(2.0 * nprobe / avg).toInt))
    }
  }

  /** Fit a [[TreeQuantizer]] on a bounded deterministic sample — the
    * n·nCells → n·2√nCells answer to the flat coarse fit/assign terms
    * (VERDICT r14 #4; BASELINE.md §×100 knn_join adjudication). Coarse-
    * quantizer training is a bounded-sample problem like PQ training
    * ([[pqCodebookOf]]'s doctrine — FAISS trains coarse quantizers on
    * capped samples regardless of index size): the sample collects
    * once ([[quantizerSample]], cap·dim floats), the ~√nCells
    * super-centroids fit locally, sample points partition by nearest
    * super, and each group fits its leaf quota locally (groups in
    * parallel threads, the pqCodebookOf pattern). Leaf quotas are
    * proportional to group occupancy (largest remainder, ≥1 per group
    * so assignment is total, Σ = nCells) — balanced leaf occupancy is
    * the point of clustering the hierarchy instead of slicing centroid
    * ids arbitrarily. A group
    * with degenerate points fits fewer (exact) leaves; an empty group
    * keeps its super-centroid as its lone leaf. */
  private[graft] def fitTreeQuantizer(emb: DataFrame, embCol: String,
      idCol: String, nCells: Int, seed: Long, sampleCap: Int = 65536,
      iters: Int = 8): TreeQuantizer = {
    require(nCells >= 1, "nCells must be >= 1")
    val sample = quantizerSample(emb, embCol, idCol, sampleCap)
    require(sample.nonEmpty,
      "cannot fit a coarse quantizer on an empty corpus")
    val dim = sample.head.length
    val g = math.max(1, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val supers = localKMeans(sample, g, seed, iters)
    val big = supers.length
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
      s
    }
    val groups = Array.fill(big)(
      scala.collection.mutable.ArrayBuffer.empty[Array[Float]])
    sample.foreach { p =>
      var best = 0; var bestD = d2(p, supers(0)); var c = 1
      while (c < big) {
        val d = d2(p, supers(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      groups(best) += p
    }
    // proportional largest-remainder leaf allocation: 1 guaranteed per
    // group, the remaining nCells − big by occupancy share
    val total = sample.length.toDouble
    val spare = math.max(0, nCells - big)
    // spare.toDouble first: the Int product spare·|group| overflows
    // past ~32k cells × a full sample (review finding)
    val raw = groups.map(gr => spare.toDouble * gr.size / total)
    val quota = raw.map(_.toInt)
    var left = spare - quota.sum
    raw.zipWithIndex.map { case (r, i) => (r - quota(i), i) }
      .sortBy { case (frac, i) => (-frac, i) }
      .take(left).foreach { case (_, i) => quota(i) += 1 }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fitted: Seq[Seq[Array[Float]]] = Await.result(
      Future.sequence((0 until big).map { gi =>
        Future(
          if (groups(gi).isEmpty) Seq(supers(gi))
          else localKMeans(groups(gi).toArray, 1 + quota(gi),
            seed + 7919L * (gi + 1), iters))
      }), Duration.Inf)
    val groupStart = fitted.scanLeft(0)(_ + _.size).toArray
    val supFlat = new Array[Float](big * dim)
    supers.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c, 0, supFlat, i * dim, dim) }
    val leafFlat = new Array[Float](groupStart.last * dim)
    fitted.flatten.zipWithIndex.foreach { case (c, l) =>
      System.arraycopy(c, 0, leafFlat, l * dim, dim) }
    TreeQuantizer(supFlat, leafFlat, groupStart, dim)
  }

  /** Nearest-centroid cell id by squared euclidean over a LITERAL
    * float-centroid table — THE assignment rule of the whole IVF
    * family since r13 ([[annIvf]], [[ivfPqTopK]], [[IvfIndex]] build
    * and appends): one codegen'd projection, no MLlib pass, ties to
    * the lowest cell id (array_position takes the first minimum —
    * KMeans' own rule), and every arithmetic step is a known literal ×
    * IEEE double op, so the DuckDB twins replay assignments
    * bit-for-bit ([[PqOracles]]). */
  private[engine] def nearestCellExpr(emb: Column,
      cents: Seq[Seq[Float]]): Column =
    // PqEncode at m=1 IS nearest-centroid assignment: one subspace of
    // k=|cents| codewords over the full dim — the codegen'd tight-loop
    // kernel, bit-identical to the HOF
    // transform/zip_with/aggregate/array_position form it replaced
    // (the PqOps drop-in parity contract; the HOF form allocated a
    // dim-element array per row PER CENTROID — measured +0.3-2 s per
    // affected query at sf0.1)
    element_at(graft.functions.PqOps.pqEncode(emb, Seq(cents)), 1)

  /** The most recent [[annIvf]] fit (float-cast coarse centroids),
    * captured for the deferred DuckDB-twin generator — the
    * [[lastIvfPqFit]] pattern; null after an exhaustive or tree run. */
  private[engine] val lastAnnIvfFit = new java.util.concurrent.atomic
    .AtomicReference[Seq[Array[Float]]](null)

  /** The most recent [[knnJoin]] fit (float-cast blocking centroids),
    * captured for the deferred DuckDB-twin generator. */
  private[engine] val lastKnnJoinFit = new java.util.concurrent.atomic
    .AtomicReference[Seq[Array[Float]]](null)

  /** The most recent TREE-path [[knnJoin]] fit (the full two-level
    * quantizer), captured for the deferred twin generator
    * ([[PqOracles.knnTreeSql]] — the r16 oracle for the scale path:
    * the two-level rule is a pure literal projection, so it replays
    * exactly like the flat rule). */
  private[engine] val lastKnnTreeFit = new java.util.concurrent.atomic
    .AtomicReference[TreeQuantizer](null)

  /** Sequential-fold dot product in double — the summation order the
    * oracle's list_dot_product mirrors. Backed by the native
    * [[graft.functions.DotF32]] Catalyst expression (codegen'd tight
    * loop, zero allocation) rather than the equivalent
    * aggregate(zip_with(...)) HOF, which materializes a throwaway
    * array<double> per evaluation — per PAIR in the all-pairs/top-k
    * cosine scans. Results are bit-identical to the HOF form.
    */
  def dot(x: Column, y: Column): Column =
    graft.functions.DotF32.dotF32(x, y)

  /** dot(a,b) / (|a|·|b|), zero-norm guarded to 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    when(na =!= 0 && nb =!= 0, d / (na * nb)).otherwise(0.0)
  }

  /** Per-group top-k over a scored (groupCol, idCol, scoreCol) stream
    * via the bounded-heap [[graft.functions.TopKPairs]] aggregate — the
    * shared ranking tail of the search family ([[cosineTopK]],
    * [[pqTopK]], [[annBucketed]], [[annIvf]], [[bm25TopK]] and the
    * persisted [[IvfIndex]]/[[TextIndex]] query paths). Largest score
    * first, ties to the smaller id; pass `smallestFirst = true` for
    * distance-like scores (ranked by negated score internally — exact
    * for the non-negative distances the callers produce, and IEEE
    * negation is bit-exact in general except for promoting -0.0 to
    * 0.0). `idCol` must be integral; an integer `scoreCol` rides the
    * heap as double, exact below 2^53 (the micro-unit BM25 scores are
    * ~1e10 at most). `dedupIds` ranks each (group, id) once, by its
    * best score (`min` of a smallest-first score; see
    * [[graft.functions.TopKPairs]]) — the dedup runs inside the heap,
    * with no grouping exchange before it.
    *
    * Scale shape (the reason this helper exists — see the doctrine at
    * [[graft.engine.Analytics.groupTopK]]): the equivalent
    * `row_number() OVER (PARTITION BY query_id ORDER BY score)` window
    * funnels the ENTIRE scored corpus into one partition per query and
    * sorts it; this form pre-reduces map-side (each map partition emits
    * at most k rows per query) and holds O(k) heap state per query —
    * at 100 TB the per-query shuffle volume is k·numMapPartitions rows
    * instead of the corpus, and nothing ever sorts a whole partition.
    */
  private[engine] def topKBy(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, k: Int,
      smallestFirst: Boolean, dedupIds: Boolean = false): DataFrame = {
    val score = col(scoreCol).cast("double")
    val ord = if (smallestFirst) negate(score) else score
    val restore = if (smallestFirst) negate(col("__p.ord")) else col("__p.ord")
    scored.groupBy(groupCol)
      .agg(graft.functions.TopKPairs.topKPairs(
        ord, col(idCol).cast("long"), k, dedupIds).as("__tk"))
      .select(col(groupCol), posexplode(col("__tk")).as(Seq("__rk0", "__p")))
      .select(col(groupCol), col("__p.id").as(idCol),
        restore.as(scoreCol), (col("__rk0") + 1).cast("int").as("rank"))
  }

  /** Brute-force top-k cosine neighbors for a set of query ids: one
    * pass over the corpus, each row scored against the whole query
    * batch in ONE [[graft.functions.QueryBatch]] call (its norm folded
    * once), per-query top-k via the bounded-heap
    * [[graft.functions.TopKPairs]] aggregate (see [[topKBy]] for why
    * not a rank window). The baseline ANN answer; exact.
    *
    * Runs one ≤|Q|-row collect when the plan is built: the query rows
    * and their norms are resolved on the driver ([[queryRows]]) and
    * bound into the scan as one reference object. The per-pair form
    * it replaces, `crossJoin(broadcast(queries))`, ran the corpus-side
    * norm once per (row, query) pair — whole-stage codegen defers a
    * projection into the nested-loop join's loop (639,995 DotF32 calls
    * for 64,000 rows × 5 queries, against one batched call per row
    * here). The scalar formula is unchanged, so the scores are
    * bit-identical.
    */
  def cosineTopK(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int = 10): DataFrame = {
    val qs = queryRows(emb, embCol, idCol, queryIds,
      sqrt(dot(col(embCol), col(embCol))))
    val vecs = qs.map(r => graft.functions.QueryBatch.decodeCollected(
      r.getSeq[Any](1)))
    val batch = new graft.functions.QueryBatch.Cosine(qs.map(_.getLong(0)),
      vecs.map(_._1), vecs.map(_._2),
      qs.map(r => r.getAs[java.lang.Double](2)))
    val p = (f: String) => col(s"__p.$f")
    val scored = scoreEach(emb, col(embCol), idCol, batch,
      round(when(p("ne") =!= 0 && p("nq") =!= 0,
        p("dot") / (p("ne") * p("nq"))).otherwise(0.0), 6).as("cosine_sim"))
    topKBy(scored, "query_id", "neighbor_id", "cosine_sim", k,
      smallestFirst = false)
  }

  /** A search request's ≤|Q| query rows, collected ONCE on the driver:
    * (id as long, vector, `extra`…) — the extras evaluated by Spark, so
    * a query-side norm or bucket array is the exact value the per-pair
    * plan computed. */
  private def queryRows(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], extra: Column*): Array[org.apache.spark.sql.Row] =
    emb.filter(idsIn(emb, idCol, queryIds))
      .select(col(idCol).cast("long") +: col(embCol) +: extra: _*)
      .collect()

  /** The first step of an ad-hoc search over an embedding corpus: the
    * embedding length, read from the first row (one `head(1)` job),
    * handed to `search` — or, for an empty corpus, the typed empty
    * result whose columns `empty` builds from the id type, without
    * running `search` (no fit has anything to fit). */
  private def withDim(emb: DataFrame, embCol: String, idCol: String,
      empty: DataType => Seq[Column])(search: Int => DataFrame): DataFrame =
    emb.select(size(col(embCol))).head(1).headOption match {
      case Some(r) => search(r.getInt(0))
      case None => emb.sparkSession.emptyDataFrame
        .select(empty(emb.schema(idCol).dataType): _*)
    }

  /** A ranked search's columns for [[withDim]]'s empty result, typed as
    * [[topKBy]] types them: (query_id, neighbor_id long, `score`,
    * rank). */
  private def rankedColumns(score: String)(idT: DataType): Seq[Column] =
    Seq(lit(null).cast(idT).as("query_id"),
      lit(null).cast("long").as("neighbor_id"), lit(0.0).as(score),
      lit(0).as("rank"))

  /** Every corpus row scored against `batch` in one call, exploded to
    * (query_id, neighbor_id, score): `score` reads only the exploded
    * pair `__p`, so nothing corpus-side is evaluated per pair. */
  private def scoreEach(emb: DataFrame, input: Column, idCol: String,
      batch: graft.functions.QueryBatch, score: Column): DataFrame =
    emb.select(col(idCol).as("neighbor_id"),
        explode(graft.functions.QueryBatch.scoreBatch(input,
          col(idCol).cast("long"), batch)).as("__p"))
      .select(col("__p.query_id").cast(emb.schema(idCol).dataType)
        .as("query_id"), col("neighbor_id"), score)

  /** Maximal-marginal-relevance re-rank: diversify each query's
    * cosine top-`kBranch` candidate list down to `k` results by the
    * greedy MMR rule — pick argmax of λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c, s) over the not-yet-selected candidates, ties to the
    * smaller id (Carbonell & Goldstein '98, the standard
    * search-result/RAG-context diversifier). λ is fixed at 0.7 and
    * the score works in EXACT integers: relevance and pair
    * similarities ride micro-units, so the step score is
    * 7·rel − 3·maxSim — pure integer arithmetic, no float boundary,
    * which is what makes the whole greedy trajectory
    * oracle-expressible (the unrolled-CTE playbook the BPE oracles
    * established). The first pick has no selected set: maxSim = 0.
    *
    * Scale shape: the ONLY corpus-sized work is the bounded-heap
    * [[cosineTopK]] harvest, which — being ≤|Q|·kBranch rows,
    * parameter-bounded at any corpus size — collects to the driver
    * and re-enters as a literal relation (one corpus scan, zero
    * persisted state; plus one join back to fetch the candidate
    * vectors). Everything after — the kBranch²
    * pair matrix and the whole k-step greedy — runs on ≤|Q|·kBranch²
    * rows, a size fixed by parameters, not the corpus, and the
    * sequential selection itself happens INSIDE one bounded-buffer
    * aggregate ([[graft.functions.MmrSelect]]): one exchange on the
    * query key, no per-step job. Returns (query_id, neighbor_id,
    * rel_micro, max_sim_micro, mmr_micro, sel_rank ≤ k).
    */
  def mmrRerank(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], kBranch: Int = 10, k: Int = 5): DataFrame = {
    require(queryIds.nonEmpty && kBranch >= k && k >= 1,
      "need queryIds nonempty and kBranch >= k >= 1")
    // the harvest is ≤|Q|·kBranch rows — parameter-bounded at any
    // corpus size — so it collects to the driver and re-enters as a
    // LITERAL relation: the corpus is scored exactly once and nothing
    // stays persisted after the call (the previous MEMORY_AND_DISK
    // persist leaked one cached RDD per invocation for the session's
    // lifetime — a review finding)
    val harvested = cosineTopK(emb, embCol, idCol, queryIds, kBranch)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine_sim") * 1e6).cast("long").as("rel_micro"))
    val spark = emb.sparkSession
    val cands = spark.createDataFrame(
      java.util.Arrays.asList(harvested.collect(): _*), harvested.schema)
    val vecs = emb.select(col(idCol).as("neighbor_id"),
      col(embCol).as("__v"))
    val withVec = cands.join(vecs, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("__v"))
    val pairs = withVec.select(col("query_id"),
        col("neighbor_id").as("__ca"), col("__v").as("__va"))
      .join(withVec.select(col("query_id"),
        col("neighbor_id").as("__cb"), col("__v").as("__vb")), "query_id")
      .filter(col("__ca") =!= col("__cb"))
      .select(col("query_id"), col("__ca").as("neighbor_id"), col("__cb"),
        round(cosine(col("__va"), col("__vb")) * 1e6).cast("long")
          .as("__sim"))
    // the whole greedy trajectory runs inside ONE bounded-buffer
    // aggregate (graft.functions.MmrSelect): a k-step DataFrame fold
    // was semantically identical but paid a join+window+materialization
    // job PER STEP — ~8.5 s of job-scheduling latency for 300 rows of
    // real work at sf0.1; this is one exchange on the query key over
    // the parameter-bounded candidate/pair rows (~0.5 s), and the
    // natural 100 TB shape — the sequential selection never touches
    // the cluster again after the harvest.
    val joined = cands.join(pairs, Seq("query_id", "neighbor_id"), "left")
    joined.groupBy("query_id")
      .agg(graft.functions.MmrSelect.mmrSelect(col("neighbor_id"),
        col("rel_micro"), col("__cb"), col("__sim"), k).as("__sel"))
      .select(col("query_id"), explode(col("__sel")).as("__p"))
      .select(col("query_id"), col("__p.neighbor_id").as("neighbor_id"),
        col("__p.rel_micro").as("rel_micro"),
        col("__p.max_sim_micro").as("max_sim_micro"),
        col("__p.mmr_micro").as("mmr_micro"),
        col("__p.sel_rank").as("sel_rank"))
  }

  /** The seeded gaussian hyperplane matrix [[annBucketed]] buckets
    * with — the SINGLE generator shared by the operator and the
    * catalog's oracle-SQL builder, so the literals DuckDB re-derives
    * sign buckets from are the exact floats the SignBuckets kernel
    * dots against (interpolated as shortest-round-trip doubles, which
    * parse back to the identical values). */
  private[engine] def annPlanes(dim: Int, numTables: Int,
      bitsPerTable: Int, seed: Long): Array[Array[Array[Float]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numTables, bitsPerTable)(
      Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** LSH-bucketed ANN scale path: native sign-random-projection
    * (SimHash-for-vectors) buckets. Seeded hyperplanes ride into the
    * kernel as one reference object ([[graft.functions.SignBuckets]]) —
    * no model fit, no MLlib job chain. Each of `numTables` tables packs
    * `bitsPerTable` hyperplane signs into a bucket id; candidates come
    * from colliding in ANY table (OR-amplification), then an exact L2
    * rescore ranks them. At 100 TB you probe buckets instead of
    * scanning the corpus, and raise `bitsPerTable` so buckets stay
    * executor-sized (recall per table ≈ (1 − θ/π)^bits, compensated by
    * adding tables). Returns (query_id, neighbor_id, l2_dist, rank);
    * deterministic for a fixed seed.
    *
    * The query rows, their buckets and |q|² are collected once on the
    * driver (one ≤|Q|-row collect), and each corpus row computes its
    * buckets once and tests them against every query inside one
    * [[graft.functions.QueryBatch]] call: no join, and no
    * (query_id, neighbor_id) dedup exchange — a pair is scored once
    * however many tables collide, and the min-l2 dedup a duplicated id
    * needs runs inside the ranking heap (`dedupIds`). One exchange
    * remains, the heap's. The l2 formula is the Catalyst expression
    * the joined plan evaluated, so distances are bit-identical.
    */
  def annBucketed(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int = 10, numTables: Int = 4,
      bitsPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    require(numTables > 0 && bitsPerTable > 0 && bitsPerTable <= 62,
      "need numTables > 0 and 0 < bitsPerTable <= 62")
    withDim(emb, embCol, idCol, rankedColumns("l2_dist")) { dim =>
      val planes = annPlanes(dim, numTables, bitsPerTable, seed)
      val qs = queryRows(emb, embCol, idCol, queryIds,
        dot(col(embCol), col(embCol)),
        graft.functions.SignBuckets.signBuckets(col(embCol), planes))
      val vecs = qs.map(r => graft.functions.QueryBatch.decodeCollected(
        r.getSeq[Any](1)))
      val batch = new graft.functions.QueryBatch.SignBucket(
        qs.map(_.getLong(0)), vecs.map(_._1), vecs.map(_._2),
        qs.map(r => r.getAs[java.lang.Double](2)),
        qs.map(r => Option(r.getSeq[Long](3)).map(_.toArray).orNull),
        planes.flatten.flatten, numTables, bitsPerTable, dim)
      val p = (f: String) => col(s"__p.$f")
      // exact rescore: |a−b| = sqrt(|a|² + |b|² − 2a·b)
      scoreEach(emb, col(embCol), idCol, batch,
          sqrt(greatest(p("qq") + p("ee") - lit(2.0) * p("qe"), lit(0.0)))
            .as("l2_dist"))
        // bounded-heap rank, not a window: LSH collisions bound the
        // EXPECTED candidate set, but a degenerate corpus (many
        // identical vectors) can flood a bucket — the heap keeps the
        // rank O(k) per query regardless (see topKBy)
        .transform(topKBy(_, "query_id", "neighbor_id", "l2_dist", k,
          smallestFirst = true, dedupIds = true))
    }
  }

  /** IVF-style ANN as a transient [[IvfIndex]]: the index is built over
    * the corpus (coarse fit [[IvfIndex.fitFor]], one assignment pass),
    * answers this one query batch ([[IvfIndex.queryByIds]]: each query
    * scans only its `nprobe` nearest cells), and is dropped. The other
    * scale path beside [[annBucketed]]'s random-hyperplane LSH — at
    * 100 TB the cell assignment is the partition key, so a probe
    * touches a bounded fraction of the corpus. Returns (query_id,
    * neighbor_id, cosine_sim, rank); each copy of a duplicated query id
    * probes its own cells.
    *
    * Exhaustive probes (`nprobe >= nCells`; the multimodal similarity
    * entries run 8/8) make the quantizer semantically inert — every
    * query scans every cell, so the answer is the exact top-k under
    * ANY assignment — and are answered by [[cosineTopK]] without a fit.
    */
  def annIvf(emb: DataFrame, embCol: String, idCol: String,
      queryIds: Seq[Long], k: Int = 10, nCells: Int = 16,
      nprobe: Int = 4): DataFrame = {
    if (nprobe >= nCells) {
      lastAnnIvfFit.set(null)
      return cosineTopK(emb, embCol, idCol, queryIds, k)
    }
    withDim(emb, embCol, idCol, rankedColumns("cosine_sim")) { _ =>
      val idx = IvfIndex.build(emb.select(col(idCol), col(embCol)),
        embCol, idCol, nCells)
      // the flat fit feeds the deferred DuckDB twin (PqOracles), which
      // replays the flat rule only: a tree fit clears the stash
      lastAnnIvfFit.set(
        if (idx.treeQuantizer.isEmpty) idx.centroidArrays else null)
      idx.queryByIds(queryIds, k, nprobe)
    }
  }

  /** HyperLogLog constants, fixed at p = 8 (m = 256 buckets): the
    * micro-unit bias constant ALPHA ≈ 0.7213/(1 + 1.079/m) and the
    * exact-integer numerator ALPHA·m²·2⁵³·10⁻⁶ the estimator
    * floor-divides by 10⁶·S. One Scala source feeds both the Spark
    * plan and the generated oracle SQL. */
  private[engine] val HllAlphaMicro = 718273L
  private[engine] val HllNumerator: String =
    (BigInt(HllAlphaMicro) * 65536 * (BigInt(1) << 53)).toString

  /** HyperLogLog register table (Flajolet et al. 2007) with the
    * DuckDB-reproducible md5-60-bit hash: bucket = low 8 bits, and
    * rho = leading-zero rank of the remaining 52-bit word
    * (53 − bit_length(w), 53 when w = 0 — bit length via the minimal
    * binary string both engines render identically). One
    * map-side-combinable groupBy to ≤ |groups|·256 rows — constant
    * per group at ANY corpus size, the sketch property. Registers
    * merge by MAX, so the same table serves per-segment sketches,
    * streaming state, and multi-corpus union (see
    * [[hllEstimateFromRegisters]] and the ExtensionsSpec merge law).
    */
  def hllRegisters(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    requireNoReserved(rows, Seq("__h", "__w", "bucket", "rho"))
    rows
      .select(col(groupCol),
        md5Hash60(col(valueCol).cast("string")).as("__h"))
      .select(col(groupCol), col("__h").bitwiseAND(lit(255L)).as("bucket"),
        shiftrightunsigned(col("__h"), 8).as("__w"))
      .select(col(groupCol), col("bucket"),
        when(col("__w") === 0L, lit(53L))
          .otherwise(lit(53L) - length(bin(col("__w")))).as("rho"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(max("rho").as("rho"))
  }

  /** The harmonic-mean HLL estimate from a register table, in EXACT
    * integer algebra end to end: S = Σ_b 2^(53−M[b]) (absent buckets
    * contribute 2⁵³; max S = 256·2⁵³ < 2⁶², a BIGINT), then
    * estimate = ⌊ALPHA·m²·2⁵³ / (10⁶·S)⌋ via decimal(38,0) integral
    * division — no float touches the pipeline on either engine, so
    * the estimate is cross-engine exact to the last integer. No
    * small-range correction (it needs ln): callers should keep the
    * expected cardinality ≥ ~2.5·m, the standard raw-HLL regime.
    */
  def hllEstimateFromRegisters(regs: DataFrame,
      groupCol: String): DataFrame =
    regs.groupBy(col(groupCol))
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - rho AS INT))"))
        + (lit(256L) - count(lit(1))) * lit(1L << 53)).as("__s"))
      .select(col(groupCol),
        expr(s"CAST('$HllNumerator' AS DECIMAL(38,0)) div " +
          "(CAST(1000000 AS DECIMAL(38,0)) * CAST(__s AS DECIMAL(38,0)))")
          .as("est_distinct"))

  /** Grouped approximate distinct count via [[hllRegisters]] +
    * [[hllEstimateFromRegisters]] — the oracle-expressible companion
    * to Spark's approx_count_distinct (whose HLL++ registers live in
    * engine-internal binary). Standard error ≈ 1.04/√m = 6.5%. */
  def hllDistinct(rows: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    hllEstimateFromRegisters(hllRegisters(rows, groupCol, valueCol),
      groupCol)

  /** Approximate token frequencies via a count-min sketch — the
    * bounded companion to the exact heavy hitters (`top_tokens`): row j
    * hashes token t at `md5_60(j + ":" + t) mod width`, the counter
    * table is ONE map-side-combinable groupBy on ≤ depth·width keys
    * (the sketch itself, as rows), and each query token reads back the
    * MIN of its depth counters. The CMS guarantee bounds the overcount:
    * estimate ∈ [true, true + N/width] per row, min over depth rows
    * (N = total tokens). Everything is exact integer counting on
    * deterministic hashes, so DuckDB replays it bit for bit. Query-token
    * positions are computed driver-side with the same md5 slice
    * ([[TokenHash.Md5_60]]) and joined against the counter table; a
    * position never seen counts 0.
    *
    * Scale shape: the corpus-sized work is one explode + one
    * hash-keyed groupBy bounded by depth·width keys at ANY corpus
    * size; the query side is |queryTokens|·depth rows broadcast.
    */
  def cmsEstimates(docs: DataFrame, textCol: String,
      queryTokens: Seq[String], depth: Int = 4,
      width: Int = 1 << 14): DataFrame = {
    require(queryTokens.nonEmpty, "queryTokens must be non-empty")
    require(depth >= 1 && width >= 2, "need depth >= 1 and width >= 2")
    val toks = docs.select(explode(tokens(col(textCol))).as("__tok"))
    val posCols = (0 until depth).map { j =>
      struct(lit(j).as("__j"),
        pmod(md5Hash60(concat(lit(s"$j:"), col("__tok"))),
          lit(width.toLong)).as("__pos"))
    }
    val counters = toks
      .select(explode(array(posCols: _*)).as("__jp"))
      .select(col("__jp.__j").as("__j"), col("__jp.__pos").as("__pos"))
      .groupBy("__j", "__pos").agg(count(lit(1)).as("__n"))
    val qRows = for {
      t <- queryTokens
      j <- 0 until depth
    } yield (t, j, TokenHash.Md5_60.of(
      s"$j:$t".getBytes(java.nio.charset.StandardCharsets.UTF_8)) % width)
    val qDf = docs.sparkSession.createDataFrame(qRows)
      .toDF("token", "__j", "__pos")
    qDf.join(counters, Seq("__j", "__pos"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("__n"), lit(0L))).as("est_count"))
  }

  /** Exact dedup keeping the BEST row of each dupe group instead of the
    * min-key row: survivor = max `qualityCol`, ties broken by min
    * `keyCol`. Same scale shape as [[dedupExact]] — one shuffle on
    * `xxhash64(dupeCols)` with collision-exact run detection; only the
    * within-run order changes (quality desc before key), so the first
    * row of each equal-`dupeCols` run is the best one. The
    * curation-pipeline shape: canonicalize → keep the highest-quality
    * variant.
    */
  def dedupBest(df: DataFrame, dupeCols: Seq[String], keyCol: String,
      qualityCol: String): DataFrame = {
    requireNoReserved(df, Seq("__h", "__rn", "__same"))
    val withH = df.withColumn("__h", xxhash64(dupeCols.map(col): _*))
    val w = Window.partitionBy("__h")
      .orderBy(dupeCols.map(col) ++
        Seq(desc(qualityCol), asc(keyCol)): _*)
    val sameAsPrev = dupeCols.map(c => lag(col(c), 1).over(w) <=> col(c))
      .reduce(_ && _)
    withH.withColumn("__rn", row_number().over(w))
      .withColumn("__same", sameAsPrev)
      .filter(col("__rn") === 1 || !col("__same"))
      .drop("__h", "__rn", "__same")
  }

  /** Deterministic global shuffle for training-data ordering: assigns
    * every row a stable 0-based `shuffle_pos` as if the corpus were
    * sorted by `(md5(key), key)` — reproducible across runs, cluster
    * sizes, and partitionings, unlike `orderBy(rand())`.
    *
    * Never a global sort: the md5 hex's leading byte range-buckets the
    * hash space (bucket order == hash order), each bucket ranks locally
    * (the only window, partitioned 256 ways), and cross-bucket offsets
    * come from a broadcast triangular-join prefix sum over the ≤256
    * bucket counts — the [[chunkForTraining]] shape. At 100 TB widen
    * `md5` prefix length from 2 to 3-4 hex chars so buckets stay
    * executor-sized; order and positions are unchanged.
    */
  def shuffleDeterministic(df: DataFrame, keyCol: String): DataFrame = {
    requireNoReserved(df,
      Seq("__md5", "__b", "__bn", "__pb", "__pn", "__off", "__rn"))
    val withB = df
      .withColumn("__md5", md5(col(keyCol).cast("string")))
      .withColumn("__b", conv(substring(col("__md5"), 1, 2), 16, 10)
        .cast("long"))
    val bucketCounts = withB.groupBy("__b").agg(count(lit(1)).as("__bn"))
    val prior = bucketCounts.select(col("__b").as("__pb"),
      col("__bn").as("__pn"))
    val offsets = bucketCounts
      .join(broadcast(prior), col("__pb") < col("__b"), "left")
      .groupBy("__b").agg(coalesce(sum("__pn"), lit(0L)).as("__off"))
    val wLocal = Window.partitionBy("__b")
      .orderBy(col("__md5"), col(keyCol))
    withB.join(broadcast(offsets), Seq("__b"))
      .withColumn("shuffle_pos",
        col("__off") + row_number().over(wLocal).cast("long") - 1L)
      .drop("__md5", "__b", "__off")
  }

  /** Deterministic hash split: assign each row to train/holdout by a
    * stable content hash of its key — reproducible across runs, cluster
    * sizes, AND partitionings (randomSplit's seed only fixes the result
    * for one physical partitioning, a classic training-pipeline trap).
    * Bucket = first two hex chars of md5(key) (256 buckets);
    * `keepBuckets` of 256 go to the kept split (205/256 ≈ 80%).
    */
  def hashSplit(df: DataFrame, keyCol: String,
      keepBuckets: Int = 205): DataFrame = {
    require(keepBuckets >= 0 && keepBuckets <= 256)
    val bucket = substring(md5(col(keyCol).cast("string").cast("binary")), 1, 2)
    // keepBuckets=256 must keep everything: f"%02x" would render it as the
    // 3-char "100", which compares LESS than 2-char hex "11".."ff" under
    // the lexical compare and would silently keep only ~17/256 buckets
    val isTrain =
      if (keepBuckets == 256) lit(true)
      else bucket < lit(f"${keepBuckets}%02x") // lexical compare on lower hex
    df.withColumn("split_bucket", bucket)
      .withColumn("is_train", isTrain.cast("int"))
  }

  /** Deterministic stratified sample: exactly ceil(fraction·n) rows per
    * stratum, chosen by md5-hash order — reproducible across runs and
    * partitionings, with per-stratum balance (sampleBy is seeded AND
    * approximate; this is neither).
    *
    * Scale shape: a `partitionBy(stratum)` window would bound
    * parallelism by stratum cardinality (5 strata → 5 tasks; at 100×
    * one partition holds 20% of the corpus). Instead the global
    * md5-order rank is computed two-level: rows split into 256 ORDERED
    * range sub-buckets by the first hash byte, the per-(stratum,bucket)
    * counts (≤ strata·256 rows) are prefix-summed and broadcast back,
    * and each row's global rank = bucket offset + its rank within the
    * (stratum, bucket) window — so every window partition is ~1/256 of
    * a stratum. Selection rule (k smallest (md5, key) per stratum) is
    * bit-identical to the single-window form the oracle mirrors.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      fraction: Double): DataFrame =
    rankedStratumSample(df, stratumCol, keyCol, lit(fraction))

  /** Corpus mixing: deterministic per-source sampling to target
    * fractions — the "data mixing weights" step of corpus assembly
    * (e.g. up-weight curated sources, down-weight crawl). Each stratum
    * keeps exactly ceil(fraction(stratum)·n) rows, chosen by md5-hash
    * order; strata absent from `fractions` (and the NULL stratum) fall
    * back to `defaultFraction`. Same two-level scale shape as
    * [[stratifiedSample]] — parallelism never bounded by source count.
    */
  def mixCorpus(df: DataFrame, stratumCol: String, keyCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f =>
      f >= 0.0 && f <= 1.0), "fractions must be in [0, 1]")
    // deterministic when-chain (sorted keys); a NULL stratum compares
    // null on every branch and lands on the default, by design
    val fracCol = fractions.toSeq.sortBy(_._1).foldLeft(lit(defaultFraction)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    rankedStratumSample(df, stratumCol, keyCol, fracCol)
  }

  private def rankedStratumSample(df: DataFrame, stratumCol: String,
      keyCol: String, fraction: Column): DataFrame = {
    requireNoReserved(df,
      Seq("__h", "__b", "__bn", "__off", "__n", "__rn", "__st", "__ob"))
    val h = md5(col(keyCol).cast("string").cast("binary"))
    val withH = df.withColumn("__h", h)
      .withColumn("__b", substring(col("__h"), 1, 2))
    // per-(stratum, bucket) counts → bucket start offsets + stratum totals;
    // ≤ |strata|·256 rows, so the windows here are trivially small and the
    // join back is a broadcast
    val bucketCounts = withH.groupBy(stratumCol, "__b")
      .agg(count(lit(1)).as("__bn"))
    val wOff = Window.partitionBy(stratumCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(stratumCol)
    val offsets = bucketCounts
      .withColumn("__off", sum("__bn").over(wOff) - col("__bn"))
      .withColumn("__n", sum("__bn").over(wTot))
      .select(col(stratumCol).as("__st"), col("__b").as("__ob"),
        col("__off"), col("__n"))
    // __b is the leading hex of __h, so ordering by (__b, __h, key) ≡
    // ordering by (__h, key): bucket-local rank + offset = global rank
    val wLocal = Window.partitionBy(col(stratumCol), col("__b"))
      .orderBy(col("__h"), col(keyCol))
    // null-safe join keys: a NULL stratum (or a NULL key → NULL bucket)
    // is a legitimate group and must be sampled like any other — a plain
    // equi-join would silently drop the whole null stratum
    withH.join(broadcast(offsets),
        withH(stratumCol) <=> col("__st") && col("__b") <=> col("__ob"))
      .withColumn("__rn", row_number().over(wLocal) + col("__off"))
      .filter(col("__rn") <= ceil(col("__n") * fraction))
      .drop("__h", "__b", "__off", "__n", "__rn", "__st", "__ob")
  }

  /** GPT-style concat-then-chunk sequence packing: documents are laid
    * out back-to-back in ascending-`keyCol` order and cut into fixed
    * `ctxLen`-token training windows. Appends each row's exclusive
    * global token offset (`start_off`) and the chunk span it lands in
    * (`first_chunk`/`last_chunk`) — the bookkeeping a tokenize-and-pack
    * stage needs to emit training examples.
    *
    * Scale shape: the global running offset is NOT a single-partition
    * window. The numeric ordering key splits into 256 ordered range
    * buckets (bounds from a broadcast 1-row min/max agg — no collect),
    * per-bucket token sums (≤256 rows) turn into bucket start offsets
    * via a window-free triangular self-join, and each row's offset =
    * its bucket's offset + a partition-local cumulative sum — so every
    * window partition is ~1/256 of the data, at any scale. Result is
    * bit-identical to the single-window form (the oracle mirrors that).
    *
    * `keyCol` must be numeric and non-null; `nTokensCol` integral ≥ 0.
    */
  def chunkForTraining(df: DataFrame, keyCol: String, nTokensCol: String,
      ctxLen: Int): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    requireNoReserved(df,
      Seq("__lo", "__hi", "__b", "__bn", "__pb", "__pn", "__off", "__cum"))
    // range buckets keep the key order both within and across buckets;
    // the bucket function is weakly monotonic in the key (monotone
    // double ops + truncation), so cross-bucket order is preserved
    val bounds = df.agg(min(col(keyCol)).cast("double").as("__lo"),
      max(col(keyCol)).cast("double").as("__hi"))
    val withB = df.crossJoin(broadcast(bounds))
      .withColumn("__b", when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(((col(keyCol).cast("double") - col("__lo")) * 256.0 /
          (col("__hi") - col("__lo") + 1.0)).cast("long")))
      .drop("__lo", "__hi")
    // per-bucket token sums (≤256 rows) → exclusive bucket offsets via a
    // triangular join: sum of every strictly-earlier bucket's tokens.
    // Window-free on purpose — even the tiny frame stays off the
    // single-partition-window audit.
    val bucketSums = withB.groupBy("__b")
      .agg(sum(col(nTokensCol).cast("long")).as("__bn"))
    val prior = bucketSums.select(col("__b").as("__pb"),
      col("__bn").as("__pn"))
    val offsets = bucketSums
      .join(broadcast(prior), col("__pb") < col("__b"), "left")
      .groupBy("__b").agg(coalesce(sum("__pn"), lit(0L)).as("__off"))
    // bucket-local exclusive cumsum + bucket offset = global offset
    val wLocal = Window.partitionBy("__b").orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val n = col(nTokensCol).cast("long")
    withB.join(broadcast(offsets), Seq("__b"))
      .withColumn("__cum", sum(n).over(wLocal) - n)
      .withColumn("start_off", col("__off") + col("__cum"))
      .withColumn("first_chunk", expr(s"start_off DIV $ctxLen"))
      .withColumn("last_chunk",
        expr(s"(start_off + CAST($nTokensCol AS BIGINT) - 1) DIV $ctxLen"))
      .drop("__b", "__off", "__cum")
  }

  // ── text analysis ────────────────────────────────────────────────────

  /** The text-stat column expressions, shared by [[textStats]] (the
    * narrow per-doc stats projection) and [[withTextStats]] (stats as
    * added columns — what a pipeline composes without a join).
    */
  private def textStatCols(textCol: String): Seq[(String, Column)] = {
    val t = col(textCol)
    val charCount = length(t)
    val noSpace = length(expr(s"replace($textCol, ' ', '')"))
    val tokenCount = charCount - noSpace + lit(1)
    val punct = noSpace - length(expr(
      s"replace(replace(replace(replace(replace($textCol, ' ', ''), " +
        "'.', ''), ',', ''), '!', ''), '?', '')"))
    val avgTokLen = round(noSpace / tokenCount, 6)
    val stopwords = Seq("the", "a", "of", "and", "to")
    val padded = concat(lit(" "), lower(t), lit(" "))
    val stopCount = stopwords.map { sw =>
      (length(padded) - length(regexp_replace(padded,
        lit(s" $sw "), lit(" ")))) / lit(sw.length + 1)
    }.reduce(_ + _)
    val quality = round(
      least(lit(1.0), tokenCount / lit(100.0)) * 0.5 +
        (lit(1.0) - least(lit(1.0), punct / greatest(tokenCount, lit(1)))) * 0.3 +
        least(lit(1.0), avgTokLen / lit(10.0)) * 0.2, 6)
    Seq("char_count" -> charCount, "token_count" -> tokenCount,
      "punct_count" -> punct, "avg_token_len" -> avgTokLen,
      "stopword_count" -> stopCount.cast("long"),
      "quality_score" -> quality)
  }

  /** Exact-arithmetic text statistics + quality score. Every stat is
    * integer-derived (replace-based counting), so the oracle twin is
    * bit-identical — see Relational's determinism conventions.
    */
  def textStats(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol) +:
      textStatCols(textCol).map { case (n, c) => c.as(n) }: _*)

  /** Same stats appended as columns — projection-only, no join. */
  def withTextStats(docs: DataFrame, textCol: String): DataFrame =
    textStatCols(textCol).foldLeft(docs) { case (acc, (n, c)) =>
      acc.withColumn(n, c)
    }

  /** PII scrubbing: regex redaction of emails, simple phone shapes, and
    * long digit runs — the pre-training hygiene pass every corpus gets.
    * Pure projection (codegen'd regexp_replace chain, no UDF, no
    * shuffle); patterns restricted to character-class forms that behave
    * identically under Java regex and RE2, so the op is oracle-checkable.
    */
  def piiScrub(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "[0-9]{3}[- ][0-9]{3}[- ]?[0-9]{4}"
    val digits = "[0-9]{9,}"
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), email, "<EMAIL>"),
          phone, "<PHONE>"),
        digits, "<NUM>")
    // appends rather than projects so pipelines compose without a join
    docs.withColumn("text_scrubbed", scrubbed)
      .withColumn("chars_redacted",
        length(col(textCol)) - length(col("text_scrubbed")))
  }

  /** Eval-set decontamination: flag training documents that share at
    * least one word n-gram with any document in the held-out eval set —
    * the standard n-gram-collision contamination check run before
    * training on web-scale corpora.
    *
    * Scale shape: shingle both sides, hash each shingle to 8 bytes,
    * semi-join train shingles against the (much smaller) DISTINCT eval
    * shingle set — one shuffle keyed on the hash, never doc×doc. With a
    * small eval set the semi-join's build side broadcasts.
    */
  /** (idCol, __h): every word n-gram of every doc, hashed to 8 bytes —
    * the shared front end of the contamination family. */
  private def docShingleHashes(df: DataFrame, textCol: String,
      idCol: String, n: Int): DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("toks"))
    val ngram = new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol("toks").setOutputCol("__sh")
    ngram.transform(toks)
      .select(col(idCol), explode(col("__sh")).as("shingle"))
      .select(col(idCol), xxhash64(col("shingle")).as("__h"))
  }

  def contaminationFlags(train: DataFrame, eval: DataFrame, textCol: String,
      idCol: String, n: Int = 8): DataFrame = {
    def shingleHashes(df: DataFrame): DataFrame =
      docShingleHashes(df, textCol, idCol, n)
    val evalHashes = shingleHashes(eval).select("__h").distinct()
    val contaminated = shingleHashes(train)
      .join(evalHashes, Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(1))
    train.select(col(idCol))
      .join(contaminated, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(0)).as("contaminated"))
  }

  /** Per-document contamination SCORE — the metric form of
    * [[contaminationFlags]]: for each train doc, how many of its
    * DISTINCT word n-gram shingles appear anywhere in the eval set,
    * and the fraction. The binary flag answers "drop it?"; the
    * fraction answers "how bad" and feeds graded policies (drop above
    * 20 %, audit 5–20 %, keep the incidental tail) plus the
    * contamination-rate reporting an eval card needs. Docs too short
    * to carry a single n-gram score 0 over 0 shingles.
    *
    * Scale shape: per-doc distinct shingles (one hash aggregate), one
    * left join keyed on the 8-byte shingle hash against the DISTINCT
    * eval shingle set (broadcasts when the eval set is small), then a
    * per-doc rollup — never doc×doc.
    */
  def contaminationScore(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, n: Int = 8): DataFrame = {
    requireNoReserved(train, Seq("__h", "__hit", "n_shingles", "n_hit",
      "overlap_frac"))
    val tr = docShingleHashes(train, textCol, idCol, n).distinct()
    val ev = docShingleHashes(eval, textCol, idCol, n)
      .select("__h").distinct().withColumn("__hit", lit(1L))
    val scored = tr.join(ev, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    train.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit") / col("n_shingles"), lit(0.0)), 6)
          .as("overlap_frac"))
  }

  /** Per-document novelty: the fraction of a doc's DISTINCT n-gram
    * shingles whose FIRST corpus occurrence (minimum `idCol` over docs
    * containing the shingle) is this doc. Ingestion-ordered ids make
    * this "how much of this doc is new content vs already-crawled
    * boilerplate" — the diversity/freshness signal dedup-adjacent
    * curation ranks by (a mirror-heavy crawl scores near 0, original
    * content near 1). Docs too short for one n-gram score 0 over 0.
    * Returns (idCol, n_shingles, n_first, novelty_frac).
    *
    * Scale shape: the ownership side counts per-doc DISTINCT shingles;
    * the first-occurrence side min-aggregates the RAW shingle stream —
    * Catalyst drops the redundant distinct under min(), so that branch
    * re-tokenizes the corpus instead of reusing the distinct exchange,
    * trading a scan for an exchange (both branches stay map-side-
    * combinable hash aggregates keyed on the 8-byte hash). Never
    * doc×doc, and no window over the skewed shingle key — a
    * boilerplate shingle is a heavy AGGREGATE key (combinable), not a
    * single-task sort (the span_dedup de-skew doctrine).
    */
  def noveltyScore(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 8): DataFrame = {
    requireNoReserved(docs, Seq("__h", "__first", "n_shingles",
      "n_first", "novelty_frac"))
    // the canonical-form club (tokenPmi note): the __h join below
    // pushes IsNotNull(__h) into its copies of this subtree — filter
    // up front so both consumers' subtrees stay identical and the
    // distinct exchange reuses
    val sh = docShingleHashes(docs, textCol, idCol, n)
      .filter(col("__h").isNotNull && col(idCol).isNotNull)
      .distinct()
    val first = sh.groupBy("__h").agg(min(col(idCol)).as("__first"))
    val scored = sh.join(first, "__h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum((col(idCol) === col("__first")).cast("long")).as("n_first"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        round(coalesce(col("n_first") / col("n_shingles"), lit(0.0)), 6)
          .as("novelty_frac"))
  }

  /** Bloom-filter decontamination — [[contaminationFlags]]' 100 TB
    * form: the eval set's shingle hashes are folded into a Bloom
    * filter (numBits bits, numHashes probes per key, double hashing)
    * that BROADCASTS as one map of ≤ numBits/64 long words, and every
    * train shingle probes it row-locally — no shuffle of the train
    * shingle stream at all, where the exact form semi-joins it against
    * the eval hash set. False negatives are impossible by
    * construction (a truly shared shingle sets exactly the bits it
    * later probes), so the flag set is a SUPERSET of the exact one —
    * recall 1, precision governed by the standard (1−e^(−kn/m))^k
    * false-positive rate; size numBits ≈ 10–15 bits per distinct eval
    * shingle for ~1% FPR. Built entirely from codegen'd built-ins
    * (composition rung (a) of the extension ladder): the filter build
    * is one map-side-combinable bit_or aggregate over word indices,
    * the filter itself a map_from_entries scalar.
    */
  def bloomDecontaminate(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, n: Int = 8,
      numBits: Int = 1 << 20, numHashes: Int = 4,
      // the two independent shingle hashes double hashing derives its
      // probe positions from. Default: engine-internal xxhash64 chain
      // (fastest). The catalog passes the md5-60-bit slice pair
      // (md5Hash60 + the second 15-hex slice) instead — both
      // DuckDB-computable, which makes the whole filter oracle-exact
      // (the simhash playbook).
      hashPair: Column => (Column, Column) = sh => {
        val h = xxhash64(sh)
        (h, xxhash64(h, lit(0x9e3779b97f4a7c15L)))
      }): DataFrame = {
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      "numBits must be a power of two >= 64")
    require(numHashes >= 1 && numHashes <= 16,
      "numHashes must be in [1, 16]")
    requireNoReserved(train, Seq("__h", "__h2", "__pos", "__widx", "__w",
      "__bloom", "contaminated"))
    def shingleHashes(df: DataFrame): DataFrame = {
      val (h1, h2) = {
        val pair = hashPair(col("shingle"))
        (pair._1, pair._2)
      }
      docShingles(df, textCol, idCol, n)
        .select(col(idCol), h1.as("__h"), h2.as("__h2"))
    }
    // double hashing: position_i = (h1 + i·h2) mod numBits, with BOTH
    // terms reduced mod numBits up front — h1 + i·h2 on raw 64-bit
    // hashes overflows a long (ANSI throws); reduced, the sum stays
    // under 2²⁵. h2 independent of h1, forced ODD so it cycles the
    // full power-of-two table (coprime with 2^m) and the k probes
    // never degenerate onto one bit.
    def positions(h: Column, hb: Column): Seq[Column] = {
      val h1 = pmod(h, lit(numBits.toLong))
      val h2 = pmod(hb, lit(numBits.toLong)).bitwiseOR(lit(1L))
      (0 until numHashes).map(i =>
        pmod(h1 + lit(i.toLong) * h2, lit(numBits.toLong)))
    }
    val words = shingleHashes(eval)
      .select(explode(array(positions(col("__h"), col("__h2")): _*))
        .as("__pos"))
      .select((col("__pos") / 64).cast("int").as("__widx"),
        // the Scala shiftleft() overload takes only a literal shift —
        // call the SQL function, whose shift is a full expression
        call_function("shiftleft", lit(1L),
          pmod(col("__pos"), lit(64)).cast("int")).as("__w"))
      .groupBy("__widx").agg(bit_or(col("__w")).as("__w"))
    val bloom = words.agg(map_from_entries(
      collect_list(struct(col("__widx"), col("__w")))).as("__bloom"))
    def mightContain(h: Column, hb: Column): Column =
      positions(h, hb).map { p =>
        val word = coalesce(
          element_at(col("__bloom"), (p / 64).cast("int")), lit(0L))
        call_function("shiftrightunsigned", word,
          pmod(p, lit(64)).cast("int")).bitwiseAND(lit(1L)) === 1L
      }.reduce(_ && _)
    val flagged = shingleHashes(train)
      .crossJoin(broadcast(bloom))
      .filter(mightContain(col("__h"), col("__h2")))
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(1))
    train.select(col(idCol))
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(0)).as("contaminated"))
  }

  /** Repetition statistics: distinct-vs-total word-trigram counts per
    * document plus the repetition ratio (1 − distinct/total) — the
    * boilerplate/template detector in corpus quality filtering. One
    * narrow aggregation per doc.
    */
  def repetitionStats(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val ngram = new org.apache.spark.ml.feature.NGram()
      .setN(n).setInputCol("toks").setOutputCol("__sh")
    ngram.transform(toks)
      .select(col(idCol), explode(col("__sh")).as("shingle"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("shingle")).as("distinct_ngrams"))
      .withColumn("repetition_ratio",
        round(lit(1.0) - col("distinct_ngrams") / col("total_ngrams"), 6))
  }

  /** Windowed skip-gram collocations scored by pointwise mutual
    * information: every ordered token pair (wᵢ, wᵢ₊ₒ) with offset
    * 1 ≤ o ≤ `window` counts once; pairs seen ≥ `minCount` times are
    * scored PMI = ln(c_ab·T / (c_a·c_b)) against the pair stream's own
    * left/right marginals (T = total pair tokens). The classic
    * collocation extractor ("new york", "machine learning") a corpus
    * vocabulary pass feeds from.
    *
    * Scale shape: the pair stream is generated INSIDE each row's token
    * array (nested sequence() transforms — pure codegen'd projection),
    * never via a position self-join of the exploded token stream, so
    * the only full-corpus exchange is the map-side-combinable pair
    * count. Marginals and T re-aggregate the counted PAIR table
    * (vocabulary², ≪ corpus) and T rides in as a broadcast 1-row
    * aggregate. The top-N cut is TakeOrdered (bounded heap per
    * partition), never a global sort.
    *
    * Determinism: counts are exact longs; the only double math is the
    * final ln(c_ab·T/(c_a·c_b)), identical operand order on the oracle
    * side, rounded once to 6.
    */
  def tokenPmi(docs: DataFrame, textCol: String, idCol: String,
      window: Int = 2, minCount: Long = 5, topN: Int = 100): DataFrame = {
    require(window >= 1, "window must be >= 1")
    requireNoReserved(docs, Seq("__toks", "__pairs", "__p", "w1", "w2",
      "c_ab", "__ca", "__cb", "__t", "pmi"))
    // widened (opt r18): tokenize + windowed pair explosion are the
    // map side of the pair count — heavy per row; integer counts after
    val toks = widen(docs).select(tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= 2)
    // per-row ordered pairs straight out of the token array:
    // for i in [1, n-1], for o in [1, min(window, n-i)]: (t[i], t[i+o])
    val pairs = toks.select(explode(flatten(
      transform(sequence(lit(1), size(col("__toks")) - 1), i =>
        transform(sequence(lit(1),
            least(lit(window), size(col("__toks")) - i)), o =>
          struct(element_at(col("__toks"), i).as("w1"),
            element_at(col("__toks"), i + o).as("w2")))))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
      // tokens are never null, but Catalyst can't see that — the
      // marginal joins below push IsNotNull(w1)/IsNotNull(w2) into
      // their branch's copy of this subtree, and DIVERGENT pushed
      // predicates break the exchange's canonical equality (4 corpus
      // scans instead of 1 — the cramers_v round-8 failure mode).
      // Filtering up front makes every branch carry the SAME subtree,
      // so the pair-count exchange computes once and reuses 3×.
      .filter(col("w1").isNotNull && col("w2").isNotNull)
    val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val left = counts.groupBy("w1").agg(sum("c_ab").as("__ca"))
    val right = counts.groupBy("w2").agg(sum("c_ab").as("__cb"))
    val total = counts.agg(sum("c_ab").as("__t"))
    // marginals are |vocabulary|-sized — no forced broadcast (ADVICE
    // r9: at corpus scale a multi-million-row forced broadcast risks
    // driver OOM regardless of autoBroadcastJoinThreshold); AQE picks
    // broadcast itself whenever the vocabulary is actually small.
    // Only the 1-row total keeps the hint.
    counts.filter(col("c_ab") >= minCount)
      .join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        // every operand promoted to double BEFORE multiplying — a
        // long·long product overflows at corpus scale (c_ab·T ~ 10¹⁸+)
        round(log(col("c_ab").cast("double") * col("__t") /
          (col("__ca").cast("double") * col("__cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 — public heuristics): word-count bounds,
    * mean-word-length bounds, a minimum fraction of alphabetic words,
    * and a minimum stop-word hit count. Emits each rule flag plus the
    * conjunction — curation keeps `passes = 1` rows and the flags say
    * WHY the rest were cut (ablation accounting per rule, which is how
    * these filters get tuned). Pure projection: every stat derives
    * from the row's own token array (codegen'd HOFs), zero shuffles,
    * exact integer/rational arithmetic → oracle bit-identical.
    */
  def gopherRules(docs: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    requireNoReserved(docs, Seq("__toks", "n_words", "mean_word_len",
      "alpha_frac", "stop_hits", "ok_words", "ok_word_len", "ok_alpha",
      "ok_stop", "passes"))
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val t = col("__toks")
    val nWords = size(t)
    val sumLen = aggregate(transform(t, x => length(x).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val alphaN = size(filter(t, x => x.rlike("[a-z]")))
    val stopHits = size(filter(t,
      x => stops.map(s => x === lit(s)).reduce(_ || _)))
    val meanLen = round(sumLen / nWords.cast("double"), 6)
    val alphaFrac = round(alphaN / nWords.cast("double"), 6)
    docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .filter(nWords >= 1)
      .select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"), stopHits.cast("long").as("stop_hits"))
      .withColumn("ok_words",
        (col("n_words") >= minWords && col("n_words") <= maxWords)
          .cast("int"))
      .withColumn("ok_word_len",
        (col("mean_word_len") >= minMeanLen &&
          col("mean_word_len") <= maxMeanLen).cast("int"))
      .withColumn("ok_alpha", (col("alpha_frac") >= minAlphaFrac).cast("int"))
      .withColumn("ok_stop", (col("stop_hits") >= minStopHits).cast("int"))
      .withColumn("passes",
        (col("ok_words") === 1 && col("ok_word_len") === 1 &&
          col("ok_alpha") === 1 && col("ok_stop") === 1).cast("int"))
  }

  /** Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over
    * the corpus vocabulary, plus r² — the one-number corpus-health
    * check (natural text sits near slope ≈ −1; a synthetic or
    * template-heavy corpus shows up instantly as a flat or broken
    * power law). Returns one row (n_terms, zipf_slope, r2).
    *
    * Scale shape (round-10 de-window, VERDICT r9 #2): at 100 TB the
    * distinct-token table is billions of rows, so a single global rank
    * window is a scale-killer. Ranks are instead DERIVED, never
    * globally sorted: (1) the frequency histogram (group by `__f` —
    * ≤ √(2·corpus_tokens) rows, since k distinct frequencies need
    * ≥ k(k+1)/2 tokens) yields each tie-group's rank interval via the
    * [[shuffleDeterministic]] two-level prefix sum (log₂(f) range
    * buckets → ≤64-row triangular broadcast join for cross-bucket
    * offsets → per-bucket windows); (2) within a tie group every word
    * shares y = ln(f), so the OLS moments are INVARIANT under any
    * bijection of the group onto its rank interval — ranks therefore
    * assign inside 256 salted (f, salt) sub-windows (each ~1/256 of a
    * tie group; widen the salt at larger scale) with sub-bucket offsets
    * from a ≤256-row-per-partition window over the (f, salt) counts.
    * No window in the plan ever sees a single-partition input
    * (PlanSpec-pinned) and the result is bit-identical to the global
    * `ORDER BY __f DESC, __w` rank the oracle mirrors. Determinism:
    * ln values are scaled to integer micro-units per TERM and the OLS
    * moments accumulate in decimal(38,0) ([[Analytics.trendSlope]]'s
    * posture) — the final slope is order-independent bit-for-bit; the
    * 1e6 scale factors cancel between numerator and denominator.
    */
  def zipfSlope(docs: DataFrame, textCol: String): DataFrame = {
    requireNoReserved(docs, Seq("__w", "__f", "__r", "__x", "__y",
      "__m", "__b", "__pb", "__pn", "__boff", "__goff", "__s", "__c",
      "__soff", "n_terms", "zipf_slope", "r2"))
    val dec = "decimal(38,0)"
    // tokens are never null, but Catalyst can't see that: without the
    // up-front filter the (f, s)-keyed join below pushes IsNotNull
    // constraints into ITS copy of this subtree only, the copies stop
    // canonicalizing equal, and the corpus-sized freq exchange computes
    // per consumer instead of reusing (the tokenPmi/cramers_v
    // canonical-form lesson). Same reason __s wraps in coalesce: a
    // nullable salt would diverge the join branches' constraints.
    // widened (opt r18): tokenize+explode is freq's map side — heavy
    // per row; everything downstream is integer/decimal-exact
    val freq = widen(docs).select(explode(tokens(col(textCol))).as("__w"))
      .filter(col("__w").isNotNull)
      .groupBy("__w").agg(count(lit(1)).as("__f"))
    // salted word table: the ONE consumer of the corpus-sized freq
    // aggregate — the histogram derives from the (f, salt) counts
    // below, never from freq directly (a second freq consumer with a
    // narrower column set would re-scan the corpus)
    val salted = freq.withColumn("__s",
      coalesce(pmod(xxhash64(col("__w")), lit(256)), lit(0L))
        .cast("int"))
    val sCounts = salted.groupBy("__f", "__s")
      .agg(count(lit(1)).as("__c"))
    // tie-group rank intervals from the frequency histogram (derived
    // by re-aggregating the vocabulary-scale sCounts): __goff = count
    // of words with strictly higher frequency, so group f owns ranks
    // __goff+1 .. __goff+__m
    val hist = sCounts.groupBy("__f").agg(sum("__c").as("__m"))
      .withColumn("__b",
        (lit(63) - floor(log2(col("__f")))).cast("int"))
    val bTotals = hist.groupBy("__b").agg(sum("__m").as("__pn"))
    val bOff = bTotals
      .join(broadcast(bTotals.select(col("__b").as("__pb"),
          col("__pn").as("__pn2"))),
        col("__pb") < col("__b"), "left")
      .groupBy("__b").agg(coalesce(sum("__pn2"), lit(0L)).as("__boff"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(col("__f").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val groupOff = hist.join(broadcast(bOff), Seq("__b"))
      .withColumn("__goff",
        col("__boff") + coalesce(sum("__m").over(wB), lit(0L)))
      .select(col("__f"), col("__goff"))
    // salted within-group offsets: per-f window of ≤256 rows;
    // combined = histogram-scale, one (f, salt)-keyed join back to
    // the word table (skew on hapax f diluted 256 ways)
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("__f").orderBy("__s")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val subOff = sCounts
      .withColumn("__soff", coalesce(sum("__c").over(wS), lit(0L)))
      .join(groupOff, Seq("__f"))
      .select(col("__f"), col("__s"),
        (col("__goff") + col("__soff")).as("__boff"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("__f", "__s").orderBy("__w")
    val ranked = salted.join(subOff, Seq("__f", "__s"))
      .withColumn("__r",
        col("__boff") + row_number().over(wLocal).cast("long"))
    val num = col("n_terms").cast(dec) * col("__sxy") -
      col("__sx") * col("__sy")
    val denX = col("n_terms").cast(dec) * col("__sxx") -
      col("__sx") * col("__sx")
    val denY = col("n_terms").cast(dec) * col("__syy") -
      col("__sy") * col("__sy")
    ranked
      .select(round(log(col("__r").cast("double")) * 1e6).cast("long")
          .as("__x"),
        round(log(col("__f").cast("double")) * 1e6).cast("long").as("__y"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        // micro-ln values are ≤ ~2e7, so the long·long products stay
        // ≤ ~4e14 — multiply in long, accumulate in decimal
        sum((col("__x") * col("__y")).cast(dec)).as("__sxy"),
        sum((col("__x") * col("__x")).cast(dec)).as("__sxx"),
        sum((col("__y") * col("__y")).cast(dec)).as("__syy"))
      .select(col("n_terms"),
        round(num.cast("double") / denX.cast("double"), 6).as("zipf_slope"),
        round(num.cast("double") * num.cast("double") /
          (denX.cast("double") * denY.cast("double")), 6).as("r2"))
  }

  /** Top-V vocabulary encoding with an OOV bucket: the `vocabSize`
    * most frequent tokens (ties to the lexicographically smaller) get
    * ids 0..V−1 in rank order, every other token maps to the single
    * OOV id V — the dictionary step in front of embedding lookup /
    * hashing-free categorical pipelines, with the long-tail cutoff
    * that keeps the embedding table bounded. Returns per doc:
    * (idCol, n_tokens, n_oov, token_ids comma-joined).
    *
    * Scale shape: one map-side-combinable token count; the rank
    * window orders only the top-V survivors of a TakeOrdered cut
    * (bounded by V, never the vocabulary); the encode itself is a
    * PURE PROJECTION — the vocabulary broadcasts as one V-entry map
    * scalar and each doc's tokens transform row-locally (no explode,
    * no join, no re-collect).
    */
  def vocabEncode(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 64): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    requireNoReserved(docs, Seq("__w", "__f", "__tid", "__vmap",
      "n_tokens", "n_oov", "token_ids"))
    val topV = docs.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__w")).limit(vocabSize)
    // rank WITHOUT a global window (the dsirResample pattern): the
    // frame is bounded to vocabSize rows by the TakeOrdered above, so
    // a single-partition re-sort + monotonically_increasing_id yields
    // the identical 0-based rank and keeps the WindowExec warning
    // channel clean for real regressions (VERDICT r13 #8)
    val ranked = topV
      .coalesce(1)
      .sortWithinPartitions(col("__f").desc, col("__w"))
      .withColumn("__tid", monotonically_increasing_id().cast("int"))
    val vmap = ranked.agg(map_from_entries(
      collect_list(struct(col("__w"), col("__tid")))).as("__vmap"))
    val toksC = tokens(col(textCol))
    docs.select(col(idCol), toksC.as("__w"))
      .crossJoin(broadcast(vmap))
      .select(col(idCol),
        size(col("__w")).as("n_tokens"),
        size(filter(col("__w"),
          t => element_at(col("__vmap"), t).isNull)).as("n_oov"),
        concat_ws(",", transform(col("__w"),
          t => coalesce(element_at(col("__vmap"), t),
            lit(vocabSize)))).as("token_ids"))
  }

  /** BPE merge training — the first `merges` byte-pair-encoding merge
    * rules learned from the corpus (the algorithm behind GPT-style
    * tokenizers, Sennrich et al. 2016; public knowledge). Words are
    * symbol sequences (initially characters); each round counts
    * adjacent symbol pairs weighted by word frequency, picks the most
    * frequent pair (ties: lexicographic), and fuses its occurrences
    * left-to-right. Returns (merge_rank, left, right, pair_count).
    *
    * Scale shape: the corpus is scanned ONCE into a word-frequency
    * table; every round then operates on that VOCABULARY-bounded
    * table (the standard BPE-on-word-counts trick — pair counts carry
    * the word's frequency as weight, so corpus volume only affects
    * the first aggregation). Each round's argmax is a 1-row bounded
    * collect (the per-cell-radii precedent), and the merge applies as
    * a codegen'd array fold (greedy left-to-right: after a fusion the
    * new symbol can't re-match as the merge's left side because
    * left+right ≠ left). The per-round vocab table is re-cached and
    * the previous round released, so the plan never deepens past one
    * round.
    */
  def bpeMerges(docs: DataFrame, textCol: String,
      merges: Int = 6): DataFrame = {
    require(merges >= 1 && merges <= 64, "merges must be in [1, 64]")
    requireNoReserved(docs, Seq("__w", "__f", "__syms", "__p",
      "merge_rank", "left", "right", "pair_count"))
    // widened (opt r18): tokenize + explode run below the word count's
    // exchange
    val wordsAgg = bpeWordTable(docs, textCol)
    val out = bpeMergesOnWords(wordsAgg, merges)
    wordsAgg.unpersist()
    out
  }

  /** The persisted corpus word-frequency table — shared by
    * [[bpeMerges]] and [[bpeStats]] (opt r19: bpeStats used to pay the
    * full tokenize + count TWICE, once inside the trainer and once for
    * its own apply pass). Caller owns the unpersist. */
  private def bpeWordTable(docs: DataFrame, textCol: String): DataFrame =
    widen(docs
        .select(explode(tokens(col(textCol))).as("__w"))
        .filter(length(col("__w")) > 0))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[bpeMerges]] body over an already-persisted word table. The
    * trainer's results never depend on who built the table. */
  private def bpeMergesOnWords(wordsAgg: DataFrame,
      merges: Int): DataFrame = {
    val spark = wordsAgg.sparkSession
    import spark.implicits._
    // ── Bounded driver-side training short-circuit (opt r19, the
    // CC-union-find / pqCodebookOf doctrine): BPE training operates on
    // the VOCABULARY-bounded word-frequency table, which is exactly
    // how production tokenizer trainers (SentencePiece, HF tokenizers)
    // run — single-machine over word counts. When the vocab fits the
    // driver budget, one collect + the local loop replaces `merges`
    // rounds of (pair-explode shuffle + 1-row collect + re-persist).
    // EXACT, not approximate: same integer pair counts, same greedy
    // apply, and the tie-break compares UTF-8 bytes unsigned — the
    // UTF8String order Spark's orderBy(a, b) uses (the local ≡
    // distributed law in ExtensionsSpec). Above the threshold (a
    // driver-memory bound, not a local-mode constant) the distributed
    // loop below runs unchanged.
    val localCap = spark.conf.getOption(
      "spark.graft.bpe.localVocabThreshold").map(_.toLong)
      .getOrElse(2000000L)
    if (localCap > 0 && wordsAgg.count() <= localCap) {
      val wf = wordsAgg.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      return localBpeMerges(spark, wf, merges)
    }
    // the at-scale distributed loop: the pinned repartition spreads
    // the word table so every round's symbol projection (array-heavy
    // compute over a few-hundred-KB frame AQE would coalesce to ~1
    // partition) stays parallel — per-row folds and integer sums,
    // order-free.
    // split("", -1) keeps a trailing empty string — drop it, an empty
    // symbol would fabricate (lastChar, "") pairs
    var words = wordsAgg
      .select(filter(split(col("__w"), ""), x => length(x) > 0)
        .as("__syms"), col("__f"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = new scala.collection.mutable.ArrayBuffer[
      (Int, String, String, Long)]
    var r = 0
    var exhausted = false
    // ONE action per round (opt r18, guide §1.2): the top-pair collect
    // itself materializes the round's (persisted) word frame — the old
    // loop paid a second count() action per round purely to let it
    // unpersist the parent early, and it folded/persisted/counted one
    // LAST frame whose symbols nothing ever read. The parent now
    // releases right after the collect that materialized its child.
    var release: Option[DataFrame] = None
    while (r < merges && !exhausted) {
      val s = col("__syms")
      val top = words
        .filter(size(s) >= 2)
        .select(col("__f"), explode(transform(
          sequence(lit(1), size(s) - 1),
          i => struct(element_at(s, i).as("a"),
            element_at(s, i + 1).as("b")))).as("__p"))
        .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
        .agg(sum("__f").as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1).collect()
      release.foreach(_.unpersist())
      release = None
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r + 1, a, b, c))
        if (r + 1 < merges) {
          // codegen'd greedy pass (opt r19, guide §4): replaces the
          // interpreted O(len²) `aggregate` fold — bit-identical, the
          // BpeMachinery equality law in ExtensionsSpec
          val next = words.select(
            graft.functions.BpeApply.bpeApply(col("__syms"),
              Seq((a, b))).as("__syms"),
            col("__f"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          release = Some(words)
          words = next
        }
      }
      r += 1
    }
    words.unpersist()
    release.foreach(_.unpersist())
    out.toSeq.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** The driver-side BPE training loop over a collected word-frequency
    * table — the [[bpeMerges]] short-circuit body. Semantics match the
    * distributed loop exactly: symbols start as code points (the
    * `split("", -1)`-minus-empties rule — regex boundaries never fall
    * inside a surrogate pair), each round counts every adjacent symbol
    * position weighted by word frequency, the argmax breaks count ties
    * toward the UTF-8-byte-smallest (a, b) — Spark's UTF8String string
    * order — and the winning rule applies greedily left-to-right (the
    * [[graft.functions.BpeMachinery]] pass). */
  private def localBpeMerges(spark: org.apache.spark.sql.SparkSession,
      wf: Array[(String, Long)], merges: Int): DataFrame = {
    import spark.implicits._
    val (rules, _) = localBpeCore(wf, merges, applyAll = false)
    rules.toDF("merge_rank", "left", "right", "pair_count")
  }

  /** The local training loop proper. Returns the learned rules and,
    * when `applyAll`, the per-word FINAL token counts with every
    * learned rule applied (the training loop itself skips applying the
    * last rule — nothing downstream of it retrains — but [[bpeStats]]
    * reports the corpus encoded under ALL rules). */
  private def localBpeCore(wf: Array[(String, Long)], merges: Int,
      applyAll: Boolean)
      : (Seq[(Int, String, String, Long)], Array[Int]) = {
    def splitCodePoints(w: String): Array[String] = {
      val out = new Array[String](w.codePointCount(0, w.length))
      var i = 0
      var n = 0
      while (i < w.length) {
        val c = w.codePointAt(i)
        val step = Character.charCount(c)
        out(n) = w.substring(i, i + step)
        n += 1
        i += step
      }
      out
    }
    // unsigned UTF-8 byte order — what Spark's orderBy compares
    def u8lt(x: String, y: String): Boolean = {
      val a = x.getBytes("UTF-8")
      val b = y.getBytes("UTF-8")
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    val syms: Array[Array[String]] = wf.map(p => splitCodePoints(p._1))
    val freqs: Array[Long] = wf.map(_._2)
    val lens: Array[Int] = syms.map(_.length)
    val out = new scala.collection.mutable.ArrayBuffer[
      (Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < merges && !exhausted) {
      val counts =
        new scala.collection.mutable.HashMap[(String, String), Long]()
      var i = 0
      while (i < syms.length) {
        val s = syms(i)
        val f = freqs(i)
        var j = 0
        while (j + 1 < lens(i)) {
          val k = (s(j), s(j + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bk: (String, String) = null
        var bc = Long.MinValue
        counts.foreach { case (k, c) =>
          if (c > bc || (c == bc && (u8lt(k._1, bk._1) ||
              (k._1 == bk._1 && u8lt(k._2, bk._2))))) {
            bk = k; bc = c
          }
        }
        out += ((r + 1, bk._1, bk._2, bc))
        if (r + 1 < merges || applyAll) {
          val (a, b) = bk
          val ab = a + b
          var i2 = 0
          while (i2 < syms.length) {
            // in-place greedy pass (we own the arrays)
            val s = syms(i2)
            val len = lens(i2)
            var w = 0
            var rd = 0
            while (rd < len) {
              val x = s(rd)
              if (w > 0 && s(w - 1) == a && x == b) s(w - 1) = ab
              else { s(w) = x; w += 1 }
              rd += 1
            }
            lens(i2) = w
            i2 += 1
          }
        }
      }
      r += 1
    }
    (out.toSeq, lens)
  }

  /** Temperature-weighted corpus mixing (the multilingual-LM sampling
    * rule, e.g. mBERT/XLM-R exponent smoothing): source s samples with
    * weight nₛ^α / Σₜ nₜ^α — α = 1 reproduces natural proportions,
    * α → 0 flattens toward uniform, lifting low-resource sources.
    * Returns per source: (sourceCol, n_docs, weight, target_docs) for
    * a `budget`-document mix, target capped at the source's own size
    * (no oversampling without replacement).
    *
    * Determinism across engines: nₛ^α is computed as exp(α·ln nₛ) and
    * ROUNDED TO INTEGER MICRO-UNITS per source, so the normalizing sum
    * is an exact long (never an order-dependent double sum); the final
    * weight/target divisions are the only double ops, identical
    * operand order in the oracle. Scale shape: one map-side-combinable
    * source count (|sources| rows), everything after is arithmetic on
    * that tiny table.
    */
  def temperatureMixing(docs: DataFrame, sourceCol: String,
      budget: Long, alpha: Double = 0.3): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    requireNoReserved(docs, Seq("__x", "__sx", "n_docs", "weight",
      "target_docs"))
    val counts = docs.filter(col(sourceCol).isNotNull)
      .groupBy(sourceCol).agg(count(lit(1)).as("n_docs"))
      .withColumn("__x",
        round(exp(lit(alpha) * log(col("n_docs").cast("double"))) * 1e6)
          .cast("long"))
    val total = counts.agg(sum("__x").as("__sx"))
    counts.crossJoin(broadcast(total))
      .select(col(sourceCol), col("n_docs"),
        round(col("__x").cast("double") / col("__sx"), 6).as("weight"),
        least(col("n_docs"),
          floor(col("__x").cast("double") / col("__sx") * budget)
            .cast("long")).as("target_docs"))
  }

  /** Tokenizer evaluation: apply the first `merges` BPE rules learned
    * by [[bpeMerges]] to the corpus and report the compression —
    * (n_words, n_chars, n_tokens, chars_per_token). chars_per_token is
    * THE tokenizer fitness number (bytes-per-token ↑ ⇒ fewer tokens
    * per document ⇒ cheaper training/inference on the same text).
    *
    * Scale shape: the merge TABLE is `merges` driver rows (bounded
    * collect, per-cell-radii precedent); applying them is one
    * projection over the word-frequency table — `merges` nested array
    * folds compiled into a single codegen'd expression, corpus volume
    * touched only by the word count.
    */
  /** The greedy left-to-right merge fold of ONE rule over a symbol
    * list (shared by [[bpeStats]] and [[bpeEncode]]): fuse when the
    * accumulator's last symbol is the rule's left and the incoming
    * symbol its right — after a fusion the new symbol can't re-match
    * as the left side because left+right ≠ left. */
  // No longer on the hot path (replaced by graft.functions.BpeApply /
  // BpeEncodeWords, opt r19) — kept as the executable REFERENCE
  // semantics the ExtensionsSpec equality law compares against.
  private[graft] def bpeApplyRule(syms: Column, a: String, b: String): Column = {
    val emptySyms = filter(array(lit("")), _ => lit(false))
    aggregate(syms, emptySyms, (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) &&
          x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))
  }

  /** Character-split + all `rules` applied in rank order — the full
    * BPE encode of one word as a single nested codegen'd expression. */
  private[graft] def bpeEncodeWord(w: Column,
      rules: Seq[(String, String)]): Column =
    rules.foldLeft(filter(split(w, ""), x => length(x) > 0)) {
      case (c, (a, b)) => bpeApplyRule(c, a, b)
    }

  def bpeStats(docs: DataFrame, textCol: String,
      merges: Int = 6): DataFrame = {
    require(merges >= 1 && merges <= 64, "merges must be in [1, 64]")
    requireNoReserved(docs, Seq("__w", "__f", "__syms", "__p",
      "merge_rank", "left", "right", "pair_count"))
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE word table shared by trainer and apply pass (opt r19, guide
    // §1.2): bpeStats used to pay the corpus tokenize+count TWICE. On
    // the bounded local path (the bpeMergesOnWords threshold) the
    // collected table serves both — train locally, then the corpus
    // totals are exact vocab-bounded sums: n_words = Σf, n_chars =
    // Σ f·|codepoints|, n_tokens = Σ f·|tokens under ALL rules| — and
    // the final division reproduces Spark's round(x, 6) bit-for-bit
    // (java BigDecimal.valueOf + HALF_UP, the Round expression's own
    // double kernel).
    val wordsAgg = bpeWordTable(docs, textCol)
    val localCap = spark.conf.getOption(
      "spark.graft.bpe.localVocabThreshold").map(_.toLong)
      .getOrElse(2000000L)
    val vocabN = wordsAgg.count()
    if (localCap > 0 && vocabN > 0 && vocabN <= localCap) {
      val wf = wordsAgg.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      wordsAgg.unpersist()
      val (_, finalLens) = localBpeCore(wf, merges, applyAll = true)
      var nWords = 0L; var nChars = 0L; var nToks = 0L
      var i = 0
      while (i < wf.length) {
        val f = wf(i)._2
        nWords += f
        nChars += f * wf(i)._1.codePointCount(0, wf(i)._1.length)
        nToks += f * finalLens(i)
        i += 1
      }
      val cpt = java.math.BigDecimal.valueOf(nChars.toDouble / nToks)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      return Seq((nWords, nChars, nToks, cpt))
        .toDF("n_words", "n_chars", "n_tokens", "chars_per_token")
    }
    // at-scale fallback (vocab above the driver budget): distributed
    // trainer over the shared table, then the apply pass rebuilds its
    // own — one extra corpus scan, the r18 shape, unchanged
    val rules = bpeMergesOnWords(wordsAgg, merges)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    wordsAgg.unpersist()
    // widened + pinned like bpeMerges' build (opt r18): the `merges`
    // nested folds below run per distinct word — parallel, not on the
    // 1-2 partitions AQE leaves a few-hundred-KB word table
    val words = widen(docs.select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0))
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("__f"),
        filter(split(col("__w"), ""), x => length(x) > 0).as("__syms"))
    // one codegen'd pass over all rules in rank order (opt r19) — the
    // foldLeft-of-bpeApplyRule chain's bit-identical replacement
    val encoded = graft.functions.BpeApply.bpeApply(col("__syms"), rules)
    words
      .select(col("__f"), size(col("__syms")).as("__chars"),
        size(encoded).as("__toks"))
      .agg(sum("__f").as("n_words"),
        sum(col("__f") * col("__chars")).as("n_chars"),
        sum(col("__f") * col("__toks")).as("n_tokens"))
      .select(col("n_words"), col("n_chars"), col("n_tokens"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6)
          .as("chars_per_token"))
  }

  /** PER-DOCUMENT BPE encoding — APPLY the merge table [[bpeMerges]]
    * trains (VERDICT r13 #6): the tokenizer-throughput scan every LLM
    * training pipeline runs over its corpus. Each word's characters
    * fold through the `merges` rules in rank order (the
    * [[bpeApplyRule]] greedy left-to-right semantics — identical to
    * training's resegmentation, so encoding the training corpus
    * reproduces the final training segmentation exactly; the
    * bpe_stats-consistency law in ExtensionsSpec). Returns per doc:
    * (idCol, n_words, n_chars, n_tokens, bpe_tokens space-joined) —
    * BPE is lossless, so `bpe_tokens` minus the spaces re-spells the
    * tokenized text (the round-trip law).
    *
    * Scale shape: the merge TABLE is ≤`merges` driver rows (bounded
    * collect, per-cell-radii precedent) baked into the plan as
    * literals; the encode itself is ONE PURE PROJECTION over the
    * corpus — `merges` nested array folds compiled into a single
    * codegen'd expression per row, no explode, no join, no shuffle —
    * the shape that rides a 100 TB scan at input bandwidth. (Unlike
    * [[bpeStats]] the fold runs per occurrence, not per distinct
    * word: the output carries each document's token stream, so every
    * occurrence is touched regardless.)
    */
  def bpeEncode(docs: DataFrame, textCol: String, idCol: String,
      merges: Int = 6): DataFrame = {
    // only the internal names are reserved: the first select projects
    // the input down to (idCol, __ws), so input columns named like an
    // OUTPUT (documents legitimately carries n_chars) can't collide —
    // but idCol itself must not shadow one
    requireNoReserved(docs, Seq("__ws", "__enc"))
    require(!Seq("n_words", "n_chars", "n_tokens", "bpe_tokens")
        .contains(idCol),
      s"idCol $idCol collides with an output column name")
    val rules = bpeMerges(docs, textCol, merges)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
    // null text encodes as the empty document, not a null row (split
    // on null would propagate size() = -1 into the counts)
    val ws = filter(tokens(coalesce(col(textCol), lit(""))),
      x => length(x) > 0)
    // widened (opt r18): the encode is a PURE projection — with no
    // exchange anywhere, the whole per-occurrence fold ran as one task
    // on a one-row-group source; per-row, so rows are unchanged.
    // Codegen'd flat encode (opt r19, guide §4): BpeEncodeWords
    // replaces flatten(transform(__ws, bpeEncodeWord)) — the per-word
    // interpreted lambda over an O(len²) fold — with one primitive
    // loop per document (bit-identical, ExtensionsSpec law). n_chars
    // folds to length(concat_ws("", __ws)): equal to the summed word
    // lengths on the null-free token stream the filter guarantees,
    // and it keeps the whole row inside whole-stage codegen.
    widen(docs).select(col(idCol), ws.as("__ws"))
      .select(col(idCol),
        size(col("__ws")).as("n_words"),
        length(concat_ws("", col("__ws"))).cast("long").as("n_chars"),
        graft.functions.BpeEncodeWords.bpeEncodeWords(col("__ws"), rules)
          .as("__toks"))
      .select(col(idCol), col("n_words"), col("n_chars"),
        size(col("__toks")).as("n_tokens"),
        concat_ws(" ", col("__toks")).as("bpe_tokens"))
  }

  /** Length-grouped batching manifest — the dynamic-batching trick:
    * group docs into token-length classes (`binWidth`-token bins) and
    * assign deterministic `batchSize`-doc batches WITHIN each class,
    * so a batch's members have similar lengths and padding waste stays
    * bounded by the bin width (vs padding every batch to its longest
    * member under random batching). Rows get (len_class, batch_idx,
    * slot): (class, batch) is the batch's identity, slot its member
    * position; order within a class is the md5-of-id shuffle —
    * reproducible across runs and partitionings.
    *
    * Scale shape: [[shuffleDeterministic]]'s two-level prefix-sum,
    * keyed per class — positions come from per-(class, md5-sub-bucket)
    * counts prefix-summed and broadcast back, and the only windows run
    * inside (class, sub-bucket) cells (≤1/256th of a class), so a
    * dominant length class never becomes a single-task sort.
    */
  def lengthBatches(docs: DataFrame, textCol: String, idCol: String,
      binWidth: Int = 32, batchSize: Int = 16): DataFrame = {
    require(binWidth >= 1 && batchSize >= 1,
      "binWidth and batchSize must be positive")
    requireNoReserved(docs, Seq("__md5", "__sub", "__cls", "__cn",
      "__psub", "__pn", "__off", "__pos", "n_tokens", "len_class",
      "batch_idx", "slot"))
    val withCls = docs
      .select(col(idCol), size(tokens(col(textCol))).as("n_tokens"))
      // integer `div`, never a double division: a double quotient can
      // round across a bin boundary exactly at the cut
      .withColumn("__cls", expr(s"cast(n_tokens div $binWidth as int)"))
      .withColumn("__md5", md5(col(idCol).cast("string")))
      .withColumn("__sub", conv(substring(col("__md5"), 1, 2), 16, 10)
        .cast("int"))
    val counts = withCls.groupBy("__cls", "__sub")
      .agg(count(lit(1)).as("__cn"))
    // prior's columns are all renamed — a shared lineage with `counts`
    // would otherwise trip the ambiguous-self-join check
    val prior = counts.select(col("__cls").as("__pcls"),
      col("__sub").as("__psub"), col("__cn").as("__pn"))
    val offsets = counts
      .join(broadcast(prior),
        col("__pcls") === col("__cls") &&
          col("__psub") < col("__sub"), "left")
      .groupBy("__cls", "__sub")
      .agg(coalesce(sum("__pn"), lit(0L)).as("__off"))
    val wLocal = Window.partitionBy("__cls", "__sub")
      .orderBy(col("__md5"), col(idCol))
    val pos = col("__off") + row_number().over(wLocal).cast("long") - 1L
    withCls.join(broadcast(offsets), Seq("__cls", "__sub"))
      .withColumn("__pos", pos)
      .select(col(idCol), col("n_tokens"),
        col("__cls").as("len_class"),
        expr(s"__pos div $batchSize").as("batch_idx"),
        pmod(col("__pos"), lit(batchSize.toLong)).as("slot"))
  }

  /** Per-batch padding efficiency for a [[lengthBatches]] layout: each
    * batch pads its members to its longest doc, so the waste fraction
    * is 1 − Σtokens / (n·max) — the number that justifies (or tunes)
    * the bin width: under length grouping it is bounded by
    * binWidth/classFloor, under random batching it averages the
    * corpus-wide length dispersion. One re-aggregation of the
    * manifest, keyed by (class, batch) — batches are `batchSize`-
    * bounded groups, trivially combinable.
    */
  def paddingStats(docs: DataFrame, textCol: String, idCol: String,
      binWidth: Int = 32, batchSize: Int = 16): DataFrame =
    lengthBatches(docs, textCol, idCol, binWidth, batchSize)
      .groupBy("len_class", "batch_idx")
      .agg(count(lit(1)).as("n_docs"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("sum_tokens"))
      .select(col("len_class"), col("batch_idx"), col("n_docs"),
        col("max_tokens"), col("sum_tokens"),
        round(lit(1) - col("sum_tokens") /
          (col("n_docs") * col("max_tokens")), 6).as("waste_frac"))

  /** Batch twin of [[graft.streaming.Streaming.tokenBudgetAdmit]]:
    * per-source token-budget admission over the whole corpus at once.
    * Docs are taken in `idCol` order within each source; a doc is
    * admitted while the tokens admitted BEFORE it are still under the
    * budget (the greedy quota rule — the budget may overshoot by at
    * most one doc), so the admitted set is exactly the prefix the
    * streaming processor admits when the same corpus is replayed in id
    * order over any micro-batch split (equivalence spec-pinned in
    * StreamingSpec). Returns the admitted rows only:
    * (idCol, sourceCol, n_tokens, running_tokens-including-this-doc).
    *
    * Scale shape: a `partitionBy(source)` running sum would bound
    * parallelism by source COUNT (5 sources → 5 tasks over the whole
    * corpus), so the cumulative sum is the two-level prefix-sum
    * instead: ids range-bucket into 256 ordered sub-buckets (bounds
    * from a broadcast 1-row max — no collect), per-(source, bucket)
    * token totals prefix-sum across buckets in a ≤256-row-per-
    * partition window, and each row's running total = bucket offset +
    * its local window sum — every window partition is ~1/256 of a
    * source. Widen the bucket count at larger scale.
    */
  def tokenBudgetBatch(docs: DataFrame, sourceCol: String, idCol: String,
      tokenCount: Column, budgetPerSource: Long): DataFrame = {
    require(budgetPerSource > 0, "budget must be positive")
    // n_tokens is NOT reserved: the explicit projection below replaces
    // any input column of that name with the caller's tokenCount (an
    // input that already carries n_tokens may pass it as the count)
    requireNoReserved(docs, Seq("__mx", "__b", "__bs", "__off",
      "running_tokens"))
    // null id/source rows are excluded BY CONTRACT (both are grouping/
    // ordering keys — the streaming twin's groupByKey has the same
    // requirement in practice, and a null key would silently vanish in
    // the (source, bucket) equi-join anyway). The up-front filter also
    // keeps the offsets branch's subtree canonically EQUAL to the
    // running-sum branch's (the join would otherwise push IsNotNull
    // into one copy only and the corpus would tokenize twice — the
    // tokenPmi lesson; PlanSpec pins <=2 scans: this shared one plus
    // the id-only 1-row max for the bucket bounds).
    val base = docs
      .filter(col(idCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(idCol), col(sourceCol),
        tokenCount.cast("long").as("n_tokens"))
    val mx = docs.filter(col(idCol).isNotNull)
      .agg(greatest(max(col(idCol)).cast("double"), lit(0.0)).as("__mx"))
    val withB = base.crossJoin(broadcast(mx))
      .withColumn("__b", coalesce(least(lit(255), greatest(lit(0),
        floor(col(idCol).cast("double") * 256.0 / (col("__mx") + 1.0))
          .cast("int"))), lit(0)))
      .drop("__mx")
    // the bucket OFFSETS derive from the local-sum window's own output
    // (a bucket's total = its last row's running sum = max of the
    // running sum), so both branches sit on the SAME (source, bucket)
    // exchange and the corpus tokenizes once — a groupBy-from-base
    // offsets branch would build its own partial-agg exchange below a
    // divergent subtree and re-scan (the zipf_slope canonical-form
    // lesson; PlanSpec pins the scan count)
    val wLocal = Window.partitionBy(sourceCol, "__b").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = withB.withColumn("__ls",
      sum("n_tokens").over(wLocal))
    val wOff = Window.partitionBy(sourceCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(sourceCol, "__b")
      .agg(max("__ls").as("__bs"))
      .withColumn("__off", coalesce(sum("__bs").over(wOff), lit(0L)))
      .select(col(sourceCol), col("__b"), col("__off"))
    local.join(broadcast(offsets), Seq(sourceCol, "__b"))
      .withColumn("running_tokens", col("__off") + col("__ls"))
      .filter(col("running_tokens") - col("n_tokens") <
        budgetPerSource)
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        col("running_tokens"))
  }

  /** The full corpus-curation pipeline a pre-training run needs, as ONE
    * composed operator: exact dedup (deterministic min-key survivor) →
    * quality scoring → threshold filter → PII scrub → deterministic
    * hash split.
    *
    * Scale shape: ONE shuffle total — dedup's 8-byte-hash exchange.
    * Everything after it (stats, filter, scrub, split) is
    * projection-only, because [[withTextStats]]/[[piiScrub]]/
    * [[hashSplit]] append columns instead of joining stat tables back.
    * At 100 TB the pipeline cost is the dedup shuffle plus one pass.
    */
  def curateCorpus(docs: DataFrame, textCol: String, idCol: String,
      minQuality: Double = 0.3, keepBuckets: Int = 205,
      htmlCol: Option[String] = None): DataFrame = {
    // optional crawl-shaped head (VERDICT r14 #3): when the corpus
    // arrives as raw HTML, boilerplate-strip it first — the extracted
    // text becomes textCol and the rest of the pipeline is unchanged
    val input = htmlCol match {
      case Some(h) =>
        htmlExtract(docs, h, idCol)
          .drop(textCol).drop(h).drop("n_blocks", "n_kept")
          .withColumnRenamed("text_extracted", textCol)
      case None => docs
    }
    val deduped = dedupExact(input, Seq(textCol), idCol)
    val scored = withTextStats(deduped, textCol)
      .filter(col("quality_score") >= minQuality)
    val scrubbed = piiScrub(scored, textCol, idCol)
    hashSplit(scrubbed, idCol, keepBuckets)
      .select(col(idCol), col("text_scrubbed"), col("chars_redacted"),
        col("token_count"), col("quality_score"),
        col("split_bucket"), col("is_train"))
  }

  /** Boilerplate-stripping text extraction from HTML — the first
    * stage of every web-crawl training pipeline (the jusText /
    * trafilatura family of LINK-DENSITY heuristics, public-knowledge
    * block classification): split the page into leaf block elements,
    * strip tags per block, and keep a block only when the fraction of
    * its text that sits inside `<a>` anchors is at most
    * `maxLinkDensity` (navigation/footer/related-links blocks are
    * mostly anchor text; payload paragraphs are mostly not) and it has
    * any text at all. Kept blocks re-join with a single space.
    *
    * Appends (`text_extracted`, `n_blocks`, `n_kept`) to the input
    * rows. ONE codegen'd scan — blocks, per-block link mass, and the
    * re-join are all regexp/HOF projections (no explode, no shuffle,
    * no UDF), so the operator is embarrassingly parallel at any corpus
    * size. Nested containers (`<div>`) are deliberately NOT block
    * tags: non-greedy matching over a nested tag inventory would pair
    * an outer open with an inner close; leaf blocks inside any
    * container still match individually.
    */
  def htmlExtract(docs: DataFrame, htmlCol: String, idCol: String,
      maxLinkDensity: Double = 0.5): DataFrame = {
    val clash = docs.columns.toSet.intersect(Set("__blocks", "__kept",
      "text_extracted", "n_blocks", "n_kept"))
    require(clash.isEmpty,
      s"input uses reserved column names: ${clash.mkString(", ")}")
    // real crawl HTML carries attributes, mixed case, and newlines
    // inside blocks (review finding — the first cut matched only
    // lowercase attribute-free single-line tags, i.e. only the
    // synthetic fixture): `\b[^>]*` admits attributes without letting
    // `<p` match `<pre`, `(?i)` covers <P>/<LI>, `(?s)` lets a block's
    // text span lines. Both patterns stay RE2-safe (no backreference,
    // no lookaround) so the DuckDB twin replays them verbatim.
    val blockPat =
      "(?is)<(?:p|nav|aside|footer|header|li|h1|h2|h3)\\b[^>]*>" +
        ".*?</(?:p|nav|aside|footer|header|li|h1|h2|h3)\\s*>"
    def strip(b: Column) = regexp_replace(b, "<[^>]*>", "")
    // anchor-text mass: sum of the lengths of the capture groups —
    // coalesce-free here (aggregate over an empty array returns the
    // 0 seed), but the DuckDB twin needs coalesce(list_sum, 0)
    def linkChars(b: Column) = aggregate(
      regexp_extract_all(b, lit("(?is)<a\\b[^>]*>([^<]*)</a\\s*>"),
        lit(1)),
      lit(0), (acc, x) => acc + length(x))
    def keep(b: Column) =
      linkChars(b).cast("double") <=
        lit(maxLinkDensity) * greatest(length(strip(b)), lit(1)) &&
        length(strip(b)) > 0
    docs
      .withColumn("__blocks",
        regexp_extract_all(col(htmlCol), lit(blockPat), lit(0)))
      .withColumn("__kept", filter(col("__blocks"), b => keep(b)))
      .withColumn("text_extracted",
        array_join(transform(col("__kept"), b => strip(b)), " "))
      .withColumn("n_blocks", size(col("__blocks")))
      .withColumn("n_kept", size(col("__kept")))
      .drop("__blocks", "__kept")
  }

  /** Deterministic HTML wrapping of a plain-text column — the
    * synthetic-corpus generator for [[htmlExtract]]'s catalog entry
    * and specs (the media-synthesis precedent: the container ships no
    * crawl corpus, so the fixture is built from `documents.text` by a
    * reversible rule). Chrome blocks (nav/aside/footer) are
    * anchor-heavy, so the link-density heuristic drops them; the
    * payload is split into 12-word `<p>` blocks whose single-space
    * re-join restores the original text EXACTLY — which is what lets
    * the catalog entry assert `text_extracted = text` row for row. */
  def htmlWrap(text: Column): Column = concat(
    lit("<html><head><title>doc</title></head><body>" +
      "<nav><a href=\"/\">home</a> <a href=\"/docs\">docs</a> " +
      "<a href=\"/api\">api</a></nav><p>"),
    regexp_replace(text, "(\\S+( \\S+){11}) ", "$1</p><p>"),
    lit("</p><aside><a href=\"/r1\">related one</a> " +
      "<a href=\"/r2\">related two</a> promoted</aside>" +
      "<footer><a href=\"/tos\">terms</a> <a href=\"/privacy\">privacy</a> " +
      "<a href=\"/contact\">contact</a> (c) corp</footer></body></html>"))

  /** N-gram-free language ID heuristic: score each language by distinct
    * stopword hits in the token set, argmax with fixed precedence.
    * Deterministic and SQL-expressible.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "fr" -> Seq("le", "la", "et", "de", "un", "est", "que", "avec"),
    "de" -> Seq("der", "die", "und", "von", "zu", "ist", "das", "mit"),
    "es" -> Seq("el", "la", "y", "de", "un", "es", "que", "con"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you"))

  /** Per-document top-k terms by TRUE tf·idf: score = tf · ln(N/df)
    * with N = documents carrying at least one token. Returns
    * (id, term, tf, df, tfidf, term_rank ≤ k).
    *
    * Cross-engine determinism: tf, df, N are exact integers and N/df is
    * a correctly-rounded IEEE division, so the only engine-dependent
    * step is ln(). The score is rounded to 6 decimals BEFORE ranking:
    * mathematically-equal scores (e.g. 2·ln(10) vs ln(100), which
    * engines may place one ulp apart in opposite directions) meet as
    * identical rounded values and fall to the term tiebreak, and an
    * UNEQUAL pair one ulp apart would have to straddle a .5e-6 decimal
    * boundary to flip — impossible for the irrational values tf·ln(N/df)
    * takes away from zero (df=N scores exactly 0.0 on both engines).
    *
    * Scale shape: one exchange on term (tf then df as a re-aggregation
    * plus a key join), a broadcast 1-row N, one exchange on the doc id
    * for the top-k window — never a driver-side vocabulary (the
    * CountVectorizer trap).
    */
  /** Per-document perplexity under a corpus unigram language model
    * with add-one smoothing — the classic statistical quality filter
    * for training-data curation: documents whose token mix diverges
    * from the corpus (boilerplate, gibberish, wrong-language,
    * machine-mangled text) score high and get reviewed or dropped.
    * p(w) = (c(w)+1)/(N+V); cross-entropy = −Σ tf·ln p(w) / n_tokens;
    * perplexity = e^H. Returns (idCol, n_tokens, cross_entropy,
    * perplexity).
    *
    * Cross-engine determinism — [[bm25TopK]]'s integer-accumulate
    * trick: each DISTINCT term's ln p(w) is rounded once to integer
    * MICRO-NATS, the per-document sum is exact integer arithmetic
    * (tf · lp products and their sum), and only the final divide /
    * exp are double, in a fixed operation order. Float-sum order
    * nondeterminism never enters.
    *
    * Scale shape: one (doc, term) tf aggregate; corpus counts reuse
    * tf's term exchange (the count/sum branches CONSUME tf's
    * aggregate — see tfidfTopTerms' reuse note); (N, V) ride a
    * broadcast 1-row aggregate; the scoring join is term-keyed on the
    * exchange already paid.
    */
  def lmPerplexity(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cw = tf.groupBy("term")
      .agg(sum(when(col("tf") > 0, col("tf"))).as("__c"))
    val st = cw.agg(sum(when(col("__c") > 0, col("__c"))).as("__n_corpus"),
      count(when(col("__c") > 0, 1)).as("__v"))
    val scored = tf.join(cw, "term")
      .crossJoin(broadcast(st))
      .withColumn("__lp",
        round(log((col("__c") + 1).cast("double") /
          (col("__n_corpus") + col("__v"))) * 1000000.0).cast("long"))
    scored.groupBy(idCol)
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("__lp")).as("__s"))
      // the displayed 6-decimal entropy rounds half-up in EXACT integer
      // arithmetic ((2·(−S)+n) div 2n — −S/n is already in micro-nat
      // units): a double round-to-6 of the quotient flips on boundary
      // values (seen at sf0.1), the rfmScores r_days lesson
      .withColumn("__xi",
        expr("(2 * (-__s) + n_tokens) div (2 * n_tokens)"))
      .select(col(idCol), col("n_tokens"),
        (col("__xi") / lit(1000000.0)).as("cross_entropy"),
        round(exp(col("__xi") / lit(1000000.0)), 2).as("perplexity"))
  }

  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    // widened (opt r18): tokenize+explode is tf's map side — heavy per
    // row; integer counts + per-value tfidf + total-tiebreak rank after
    val tf = widen(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // both derived branches consume tf's aggregate via the tf > 0
    // predicate (always true — tf is a count) so they plan the SAME
    // subtree as the main join input and reuse its exchange; with
    // count(lit(1)) / a bare count_distinct Catalyst prunes tf's count
    // from each branch and every one re-scans + re-tokenizes the corpus
    val dfreq = tf.groupBy("term")
      .agg(count(when(col("tf") > 0, 1)).as("df"))
    val nDocs = tf.agg(count_distinct(
      when(col("tf") > 0, col(idCol))).as("__n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log(col("__n_docs").cast("double") / col("df")), 6))
      // bounded rank window: the partition is ONE document's distinct
      // terms — capped by that document's own token count (a single row
      // of the input), never by corpus size; the id is a string term,
      // which the long-keyed heap can't carry anyway
      .withColumn("term_rank", row_number().over(
        Window.partitionBy(idCol)
          .orderBy(desc("tfidf"), asc("term"))).cast("int"))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("tfidf"),
        col("term_rank"))
  }

  /** BM25 scored retrieval: top-k documents per query under
    * Okapi BM25 with the Lucene idf (ln(1 + (N−df+0.5)/(df+0.5)),
    * always positive), k1 = 1.2, b = 0.75. Query terms are set-distinct.
    * Returns (query_id, doc id, bm25, rank ≤ k).
    *
    * A query on a transient [[SegmentedTextIndex]] over `docs`
    * ([[TextIndex.build]]): the one BM25 scoring plan, with its
    * integer micro-unit determinism argument, written to nothing.
    * Before the final collect it runs two jobs: the corpus stats
    * (documents, total length) and the collect of the query text.
    *
    * Scale shape: only postings whose terms occur in a query are
    * scored, keyed by query after one shuffle; the top-k cut is the
    * bounded-heap [[bm25RankTail]], never a window sort of the scored
    * postings.
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
      queries: DataFrame, queryTextCol: String, queryIdCol: String,
      k: Int = 10): DataFrame =
    // widened (opt r18, guide §2.5): tokenize+explode is the postings'
    // map side — one task on a one-row-group source; every statistic is
    // an integer count/sum and the contribs are micro-unit ints, so
    // partitioning is invisible to the result
    TextIndex.build(widen(docs.select(col(idCol), col(textCol))), textCol,
        idCol)
      .query(queries, queryTextCol, queryIdCol, k)

  /** The BM25 ranking tail ([[SegmentedTextIndex#query]]): bounded-heap
    * top-k on the exact integer micro-unit score (a common query term
    * matches most of the corpus — a per-query window sort over the
    * scored postings is the same scale-killer topKBy exists to remove;
    * micro-unit scores are ~1e10, far below the 2^53 exact-double
    * bound), then the single bigint→double division of the displayed
    * score.
    */
  private[engine] def bm25RankTail(scored: DataFrame, queryIdCol: String,
      idCol: String, k: Int): DataFrame =
    topKBy(scored, queryIdCol, idCol, "__score_int", k,
        smallestFirst = false)
      .select(col(queryIdCol), col(idCol),
        (col("__score_int") / lit(1000000.0)).as("bm25"), col("rank"))

  /** Hybrid retrieval by reciprocal-rank fusion: the lexical (BM25)
    * and dense (cosine) top-`kBranch` lists for each query document
    * fuse as Σ 1/(rrfK + rank) over the union of candidates — the
    * standard hybrid-search combiner, used in a curation pipeline
    * wherever one retrieval mode alone misses (paraphrases escape
    * BM25, rare named entities escape dense search — decontamination
    * and hard-negative mining both want the union). Query documents
    * are corpus members (`queryIds`, shared doc/vec id space); each is
    * excluded from its own candidate lists. Returns
    * (query_id, idCol, lex_rank, vec_rank, rrf_score, rank ≤ k);
    * a candidate absent from one list carries a null rank there and
    * contributes only the present branch's term.
    *
    * Cross-engine determinism: branch ranks are exact by construction
    * (BM25 integer micro-unit scores; cosine rounded to 6 decimals
    * before ranking; ties to the smaller id); 1/(rrfK+rank) is one
    * correctly-rounded IEEE division of exact small integers, and the
    * two-term sum is written in the same (lex + dense) order on both
    * engines — bit-identical doubles, so the fused ranking cannot
    * drift. Cross-branch score ties (lex-only rank r vs dense-only
    * rank r produce equal sums) break to the smaller id, mirrored in
    * the SQL twin.
    *
    * Scale shape: both branches are the already-scale-shaped search
    * paths (the query-keyed transient index of [[bm25TopK]];
    * broadcast query vectors + bounded heap
    * [[cosineTopK]]) — the fusion itself joins two |Q|·kBranch-row
    * rankings, and every window partition is ≤ kBranch+1 (the de-self
    * re-rank) or ≤ 2·kBranch (the fused rank) rows BY CONSTRUCTION,
    * independent of corpus size.
    */
  def rrfFusion(docs: DataFrame, textCol: String, idCol: String,
      emb: DataFrame, embCol: String, vecIdCol: String,
      queryIds: Seq[Long], kBranch: Int = 20, k: Int = 10,
      rrfK: Int = 60): DataFrame = {
    // k may exceed kBranch (the fused union holds up to 2·kBranch
    // candidates); anything beyond that just returns fewer rows
    require(queryIds.nonEmpty && kBranch >= 1 && k >= 1 && rrfK >= 1,
      "need queryIds nonempty, kBranch >= 1, k >= 1, rrfK >= 1")
    requireNoReserved(docs, Seq("query_id", "__qtext", "lex_rank",
      "vec_rank", "rrf_score", "rank", "__rrf"))
    val qDocs = docs.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(textCol).as("__qtext"))
    val lex = deSelfRerank(bm25TopK(docs, textCol, idCol, qDocs,
      "__qtext", "query_id", kBranch + 1), idCol, kBranch)
    val dense = cosineTopK(emb, embCol, vecIdCol, queryIds, kBranch)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("rank").as("vec_rank"))
    rrfFuseRanked(lex, dense, idCol, k, rrfK)
  }

  /** Self-exclusion re-rank of a BM25 branch that asked for kBranch+1
    * candidates ([[rrfFusion]]): the query doc is lexically its own
    * best match but must not be its own candidate. Whether or not self
    * made the heap, re-ranking the survivors and cutting at kBranch
    * equals the direct top-kBranch over non-self candidates — so an
    * oracle can take the direct form, and [[HybridIndex.queryByIds]]
    * does (it drops self before the heap, one window fewer). The
    * window partition is ≤ kBranch+1 rows by construction.
    */
  private[engine] def deSelfRerank(ranked: DataFrame, idCol: String,
      kBranch: Int): DataFrame = {
    val wReRank = Window.partitionBy("query_id")
      .orderBy(desc("bm25"), asc(idCol))
    ranked
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("lex_rank", row_number().over(wReRank).cast("int"))
      .filter(col("lex_rank") <= kBranch)
      .select(col("query_id"), col(idCol), col("lex_rank"))
  }

  /** Shared RRF fusion tail ([[rrfFusion]], [[HybridIndex]]): the
    * full-outer union of a (query_id, idCol, lex_rank) and a
    * (query_id, idCol, vec_rank) branch ranking, Σ 1/(rrfK + rank)
    * over the union (absent rank contributes 0), final top-k with
    * ties to the smaller id. Both inputs are |Q|·kBranch-row rank
    * tables, so every window partition here is ≤ 2·kBranch rows by
    * construction.
    */
  private[engine] def rrfFuseRanked(lex: DataFrame, dense: DataFrame,
      idCol: String, k: Int, rrfK: Int): DataFrame = {
    def branch(r: Column): Column =
      when(r.isNotNull, lit(1.0) / (lit(rrfK) + r.cast("double")))
        .otherwise(0.0)
    val rrf = branch(col("lex_rank")) + branch(col("vec_rank"))
    // union + per-(query, candidate) max == the full outer join on
    // (query_id, idCol): each branch ranks a candidate at most once per
    // query, so a group holds at most one rank per branch. Partitioning
    // by query_id FIRST satisfies both the grouping and the rank
    // window below — one exchange where the join paid three, and none
    // when both branches arrive partitioned by query_id already (the
    // union keeps their common partitioning and the repartition is
    // planned away)
    val noRank = lit(null).cast("int")
    lex.select(col("query_id"), col(idCol), col("lex_rank"),
        noRank.as("vec_rank"))
      .unionByName(dense.select(col("query_id"), col(idCol),
        noRank.as("lex_rank"), col("vec_rank")))
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col(idCol))
      .agg(max("lex_rank").as("lex_rank"), max("vec_rank").as("vec_rank"))
      .select(col("query_id"), col(idCol), col("lex_rank"),
        col("vec_rank"), round(rrf, 6).as("rrf_score"),
        row_number().over(Window.partitionBy("query_id")
          .orderBy(rrf.desc, col(idCol).asc))
          .cast("int").as("rank"))
      .filter(col("rank") <= k)
  }

  /** Bigram language-model statistics per document: bigram count,
    * distinct bigrams, average corpus frequency of the document's
    * bigrams, and how many fall below `rareBelow` corpus occurrences —
    * the n-gram-LM quality signal (a document whose bigrams are mostly
    * corpus-rare is boilerplate-free but possibly garbled; one whose
    * bigrams are all corpus-common is template-like). All-integer
    * arithmetic plus long/long division — no log-probability floats, so
    * the oracle twin is bit-identical.
    *
    * Scale shape: one exchange keyed on the bigram (corpus counts +
    * join back), one on the doc id for the per-doc rollup. The bigram
    * frame is built with slice/zip_with HOFs inside codegen — no
    * NGram/UDF row transform.
    */
  /** DSIR-style importance weights for data selection (Xie et al.
    * 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document in the pool by how much more
    * likely its hashed n-gram bag is under a TARGET subset's feature
    * distribution than under the whole RAW pool's. Features are
    * unigrams + bigrams hashed into `buckets` ids (md5-60 mod B —
    * DuckDB-reproducible); both distributions are add-1-smoothed
    * bucket models; per-feature log-probs are micro-nat-quantized
    * longs (the lm_perplexity doctrine), so the per-doc log-weight
    * Σ n_doc(f)·(lp_t(f) − lp_r(f)) is exact integer algebra and the
    * whole operator replays in DuckDB.
    *
    * Scale shape: both count tables are bounded at B rows at ANY
    * corpus size (map-side-combinable groupBys over hashed ids —
    * never a vocabulary) and broadcast back to the per-doc feature
    * stream; the target flag rides the feature stream, so raw and
    * target counts BOTH reuse the one per-doc aggregate — the corpus
    * is scanned and tokenized exactly once (plan-pinned). The paper
    * then resamples with Gumbel noise on these weights — sampling is
    * the deterministic [[dsirResample]]; this operator's contract is
    * the weights.
    */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2, "buckets must be >= 2")
    requireNoReserved(docs, Seq("__toks", "__feat", "__f", "__n", "__t",
      "__ct", "__cr", "__nt", "__nr", "__lpt", "__lpr", "__s"))
    val b = buckets.toLong
    // the target flag RIDES THE FEATURE STREAM instead of arriving via
    // a semi-join: PushDownLeftSemiAntiJoin would push a join through
    // docF's aggregate (idCol is a grouping key), de-canonicalizing
    // the subtree so the target branch re-scanned and re-tokenized the
    // corpus — with the flag inline, ONE scan feeds every count table
    // widened (opt r18, guide §2.5): the tokenize/bigram/md5 chain is
    // the map side of docF's exchange — one task on a one-row-group
    // source; per-row work, integer counts downstream
    val toks = widen(docs).select(col(idCol),
      when(isTarget, 1L).otherwise(0L).as("__t"),
      filter(tokens(col(textCol)), x => x =!= lit("")).as("__toks"))
    val featStream = toks.select(col(idCol), col("__t"),
        explode(concat(col("__toks"), zip_with(
          slice(col("__toks"), lit(1),
            greatest(lit(0), size(col("__toks")) - 1)),
          slice(col("__toks"), lit(2),
            greatest(lit(0), size(col("__toks")) - 1)),
          (x, y) => concat(x, lit(" "), y)))).as("__feat"))
      .select(col(idCol), col("__t"),
        pmod(md5Hash60(col("__feat")), lit(b)).as("__f"))
    // up-front null filter (the cramersV/tokenPmi canonical-form
    // lesson): downstream joins push IsNotNull on idCol/__f into SOME
    // copies of this subtree — filtering here keeps every copy
    // canonically equal so docF's exchange is REUSED, not re-scanned
    // (and re-tokenized) once per consumer
    val docF = featStream
      .filter(col(idCol).isNotNull && col("__f").isNotNull)
      .groupBy(col(idCol), col("__f"))
      .agg(count(lit(1)).as("__n"), max("__t").as("__t"))
    // __t is 0/1 (never null), so the __t >= 0 guards below are
    // always true — they exist to CONSUME docF's max(__t) column in
    // every branch (the tfidf/rocAuc consume-trick): a branch that
    // pruned it would plan a different aggregate and re-scan the
    // corpus instead of reusing docF's exchange
    val rawC = docF.groupBy("__f")
      .agg(sum(when(col("__t") >= 0, col("__n"))).as("__cr"))
    // the filter sits ABOVE docF's aggregate (on an aggregate output),
    // so it cannot push below the exchange — the reuse holds
    val tgtC = docF.filter(col("__t") === 1L)
      .groupBy("__f").agg(sum("__n").as("__ct"))
    val totals = rawC.agg(sum("__cr").as("__nr"))
      .crossJoin(tgtC.agg(sum("__ct").as("__nt")))
    val lp = rawC.join(tgtC, Seq("__f"), "left")
      .na.fill(0L, Seq("__ct"))
      .crossJoin(broadcast(totals))
      .select(col("__f"),
        round(log((col("__ct") + 1).cast("double") / (col("__nt") + b))
          * 1000000.0).cast("long").as("__lpt"),
        round(log((col("__cr") + 1).cast("double") / (col("__nr") + b))
          * 1000000.0).cast("long").as("__lpr"))
    docF.join(broadcast(lp), "__f")
      .groupBy(idCol)
      .agg(sum(when(col("__t") >= 0, col("__n"))).as("n_feats"),
        sum(col("__n") * (col("__lpt") - col("__lpr"))).as("__s"))
      .select(col(idCol), col("n_feats"),
        (col("__s") / lit(1000000.0)).as("log_weight"))
  }

  /** The most recent [[qualityScoreLr]] fit (micro-quantized
    * coefficients + intercept), captured for the deferred DuckDB-twin
    * generator — the [[lastIvfPqFit]] pattern: the LBFGS fit is
    * MLlib-distributed, so the oracle replays THIS run's weights. */
  private[graft] val lastQualityLrFit = new java.util.concurrent.atomic
    .AtomicReference[(Seq[Long], Long)](null)

  /** Quality-classifier scoring — the fasttext-style learned quality
    * filter every production corpus uses (and the bridge between the
    * MLPipe and text families): train LogisticRegression on WEAK
    * labels ([[gopherRules]] `passes` — no human labels anywhere) over
    * hashed n-gram counts (the [[dsirWeights]] feature stream), then
    * score the whole corpus with the fitted weights.
    *
    * The split that makes this 100 TB-shaped: the FIT is bounded — a
    * `buckets`-dim problem over a deterministic xxhash64 sample capped
    * at `fitSampleCap` docs (the whole corpus while it fits under the
    * cap, a 1-in-stride slice past it) — while the SCORING pass is
    * pure feature hashing + one integer dot product per document — no
    * model object, no MLlib at scoring time, just a literal weight
    * array inside codegen. Coefficients are micro-quantized to longs
    * (round(w·1e6)), so each document's log-odds margin is EXACT
    * integer algebra — order-free, and replayable by the DuckDB twin
    * with the weights inlined as literals ([[PqOracles]] playbook).
    *
    * Returns (idCol, n_feats, log_odds, predict) for every document
    * with ≥1 feature; log_odds = margin/1e6 (monotone in the model
    * probability — the sigmoid is deliberately NOT applied, keeping
    * the output exact), predict = margin > 0.
    *
    * Scale shape: ONE tokenize pass into a cached (doc, bucket) count
    * frame feeds both the training vectors and the scoring pass; the
    * per-doc dense vector materializes only for the bounded fit input.
    */
  def qualityScoreLr(docs: DataFrame, textCol: String, idCol: String,
      buckets: Int = 512, regParam: Double = 0.1,
      maxIter: Int = 15, fitSampleCap: Long = 65536L): DataFrame = {
    require(buckets >= 2 && buckets <= 65536,
      "need 2 <= buckets <= 65536")
    require(fitSampleCap >= 1, "fitSampleCap must be >= 1")
    requireNoReserved(docs, Seq("__toks", "__feat", "__f", "__n", "__m",
      "__vec", "__lbl", "__s", "n_feats", "log_odds", "predict"))
    val b = buckets.toLong
    // widened (opt r18): tokenize + bigram explode + md5 hashing all
    // run BELOW the first exchange — on a one-row-group source that
    // whole chain was one task (guide §2.5); per-row work, so the
    // round-robin is invisible to every downstream aggregate
    val docsW = widen(docs)
    val toks = docsW.select(col(idCol),
      filter(tokens(col(textCol)), x => x =!= lit("")).as("__toks"))
    val featStream = toks.select(col(idCol),
        explode(concat(col("__toks"), zip_with(
          slice(col("__toks"), lit(1),
            greatest(lit(0), size(col("__toks")) - 1)),
          slice(col("__toks"), lit(2),
            greatest(lit(0), size(col("__toks")) - 1)),
          (x, y) => concat(x, lit(" "), y)))).as("__feat"))
      .select(col(idCol), pmod(md5Hash60(col("__feat")), lit(b)).as("__f"))
    // one tokenize pass, cached: the fit input AND the scoring pass
    // read this frame (≤ docs × distinct-buckets rows, never re-derived)
    val docF = featStream
      .filter(col(idCol).isNotNull && col("__f").isNotNull)
      .groupBy(col(idCol), col("__f"))
      .agg(count(lit(1)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docF.count()
    // the FIT is a bounded-sample problem at every corpus size (the
    // pqCodebookOf doctrine): a `buckets`-dim logistic regression
    // stops improving long before millions of examples, while each
    // LBFGS iteration is a full treeAggregate over the training frame
    // — so the fit input is capped to a deterministic 1-in-stride
    // xxhash64 slice of the corpus (stride from the cheap docs.count;
    // stride 1 ⇒ the whole corpus at toy scale, so the capture-replay
    // oracle sees no change there). SCORING always covers every doc.
    // ceiling division: floor (count/cap) lets the sample reach just
    // under 2× fitSampleCap (e.g. 131,071 docs at the default cap gave
    // stride 1 = whole-corpus fit — ADVICE r13); ceiling keeps the
    // sampled count ≤ fitSampleCap at every corpus size
    val stride = math.max(1L,
      (docs.count() + fitSampleCap - 1) / fitSampleCap)
    // the stride filter sits BELOW the vector assembly and the label
    // scan (opt r18, guide §1.2 "don't compute things you throw
    // away"): both only ever feed the fit, and pre-push they ran over
    // the WHOLE corpus — a `buckets`-wide per-doc projection plus a
    // second tokenize pass, unbounded in n — before the filter threw
    // all but ≤ fitSampleCap rows away. The filter is a deterministic
    // function of idCol alone and both sides are per-doc, so
    // filter-then-assemble ≡ assemble-then-filter row for row: the
    // fit input is IDENTICAL, it just never materializes the rest.
    def keepSampled(d: DataFrame): DataFrame =
      if (stride == 1L) d
      else d.filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
    // the explicit hash repartition pins the assembly's parallelism:
    // its shuffle input is a few MB of (id, bucket, count) rows, so
    // AQE's byte-targeted coalescing folds the post-exchange stage to
    // ~1 partition and the `buckets`-wide projection — the expensive
    // part, invisible to byte statistics — runs serial (opt r18,
    // measured 7.6 s → 1.0 s at sf0.1; bounded: ≤ fitSampleCap rows)
    val counts = keepSampled(docF).groupBy(idCol)
      .agg(map_from_entries(collect_list(
        struct(col("__f").cast("int"), col("__n").cast("double"))))
        .as("__m"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol),
        org.apache.spark.ml.functions.array_to_vector(
          transform(sequence(lit(0), lit(buckets - 1)),
            k => coalesce(element_at(col("__m"), k), lit(0.0))))
          .as("__vec"))
    val labels = gopherRules(keepSampled(docsW), textCol, idCol)
      .select(col(idCol), col("passes").cast("double").as("__lbl"))
    // persist the assembled training frame: every LBFGS iteration is a
    // treeAggregate over it — uncached, each of the maxIter passes
    // would re-run the vector assembly and the gopher label scan.
    // (Tried and REVERTED, opt r19: dropping this persist to let MLlib
    // cache its decoded Instance RDD instead — handlePersistence —
    // measured WORSE, 6.8 → 7.0 s warm and +8 jobs: MLlib's own
    // persistence path adds actions that cost more than the per-
    // iteration row decode it saves at this train size.)
    val train = counts.join(labels, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val model =
      try new org.apache.spark.ml.classification.LogisticRegression()
        .setFeaturesCol("__vec").setLabelCol("__lbl")
        .setRegParam(regParam).setMaxIter(maxIter)
        .fit(train)
      finally train.unpersist()
    val wMicro: Seq[Long] = model.coefficients.toArray
      .map(w => math.round(w * 1e6)).toSeq
    val bMicro: Long = math.round(model.intercept * 1e6)
    lastQualityLrFit.set((wMicro, bMicro))
    val wLit = typedLit(wMicro)
    // materialize the (narrow, one-row-per-doc) result, then release
    // the corpus-sized cached count frame — the annIvf/ivfPqTopK
    // cache-hygiene pattern (review finding: docF held MEMORY_AND_DISK
    // for the rest of the process otherwise)
    val result = docF.groupBy(idCol)
      .agg(sum("__n").as("n_feats"),
        sum(col("__n") * element_at(wLit, col("__f").cast("int") + 1))
          .as("__s"))
      .select(col(idCol), col("n_feats"),
        ((col("__s") + bMicro) / lit(1000000.0)).as("log_odds"),
        (col("__s") + bMicro > 0).cast("int").as("predict"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    result.count()
    docF.unpersist()
    result
  }

  /** Deterministic DSIR importance RESAMPLING — the sampling half of
    * Xie et al. 2023 that [[dsirWeights]] leaves downstream: draw the
    * k documents with the largest (log_weight + Gumbel) keys, which
    * samples without replacement ∝ exp(log_weight) (the
    * Gumbel-top-k theorem). The Gumbel noise is DERANDOMIZED from the
    * document id — u = (md5_60(id)+1)/(2^60+256) ∈ (0,1) (the
    * denominator is the first double-representable value above 2^60,
    * so both engines compute the identical quotient and u never
    * reaches 1), g = −ln(−ln u)
    * — so the draw is reproducible, audit-able, and replayable by the
    * DuckDB twin. Both the weight and the noise are micro-nat-
    * quantized longs; the selection key is their exact integer sum,
    * so the top-k order (key desc, id asc) compares integers — no
    * float comparator can flip a boundary row across engines. Returns
    * (idCol, n_feats, log_weight, gumbel_micro, key_micro, rank).
    *
    * Scale shape: [[dsirWeights]]'s (bounded count tables broadcast
    * onto one per-doc pass) plus a TakeOrdered top-k — the k-bounded
    * heap, never a global sort.
    */
  def dsirResample(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, k: Int, buckets: Int = 4096): DataFrame = {
    require(k >= 1, "k must be >= 1")
    requireNoReserved(docs, Seq("__u", "gumbel_micro", "key_micro",
      "log_weight", "n_feats", "rank"))
    val w = dsirWeights(docs, textCol, idCol, isTarget, buckets)
    val denom = math.pow(2.0, 60) + 256.0
    val keyed = w
      .withColumn("__u",
        (md5Hash60(col(idCol).cast("string")) + 1).cast("double") / denom)
      .withColumn("gumbel_micro",
        round(-log(-log(col("__u"))) * 1000000.0).cast("long"))
      .withColumn("key_micro",
        round(col("log_weight") * 1000000.0).cast("long") +
          col("gumbel_micro"))
    // rank WITHOUT a global window: the frame is already bounded to k
    // rows by the TakeOrdered above, so one single-partition re-sort +
    // monotonically_increasing_id (sequential 0..k-1 inside partition
    // 0) yields the identical rank — and keeps the WindowExec
    // "No Partition Defined" warning channel clean for real
    // regressions (VERDICT r13 #8). monotonically_increasing_id is
    // nondeterministic, so Catalyst will not reorder it below the sort.
    keyed
      .orderBy(desc("key_micro"), col(idCol))
      .limit(k)
      .select(col(idCol), col("n_feats"), col("log_weight"),
        col("gumbel_micro"), col("key_micro"))
      .coalesce(1)
      .sortWithinPartitions(desc("key_micro"), col(idCol))
      .withColumn("rank",
        (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Per-segment Jensen–Shannon divergence of the token distribution
    * against the REST of the corpus — "which source is
    * distributionally off" is the first corpus-mixing question, and
    * JSD (unlike KL) is finite under zero counts on either side, so no
    * smoothing constant muddies the statistic. For segment s with
    * token probabilities p (inside) and q (rest):
    * JSD = ½Σ p·ln(2p/(p+q)) + ½Σ q·ln(2q/(p+q)).
    * Tokens ABSENT from the segment contribute the closed form
    * ½·ln2·(1 − Q_present) (their p = 0 term), where Q_present =
    * Σ_{t present in s} q_t has an EXACT INTEGER numerator — so the
    * whole sum runs over the (segment, present-token) table only,
    * never a segment×vocabulary cross. Per-pair terms are micro-nat-
    * quantized longs (order-free integer sum, the dsirWeights
    * doctrine); the absent-mass remainder is one double expression
    * per segment from exact integer counts. Returns (segCol,
    * n_tokens, vocab_seg, jsd) with jsd in nats, ln 2 ≈ 0.6931 = max.
    *
    * Scale shape: one map-side-combinable (segment, token) count, one
    * token-keyed re-aggregation for corpus totals joined back on the
    * token (both vocabulary-bounded), one per-segment rollup. The raw
    * corpus is tokenized once.
    */
  def jsDivergence(docs: DataFrame, textCol: String,
      segCol: String): DataFrame = {
    requireNoReserved(docs, Seq("__tok", "__c", "__g", "__n", "__nn",
      "__p", "__q", "__tm", "n_tokens", "vocab_seg", "jsd"))
    val tok = docs.select(col(segCol),
        explode(filter(tokens(col(textCol)), x => x =!= lit("")))
          .as("__tok"))
    // up-front null filter so the token/segment joins below push the
    // SAME IsNotNull predicates into every copy of this aggregate —
    // canonical equality is what lets them all reuse one exchange
    // instead of re-tokenizing the corpus per branch
    val segTok = tok
      .filter(col(segCol).isNotNull && col("__tok").isNotNull)
      .groupBy(col(segCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    val tokTot = segTok.groupBy("__tok").agg(sum("__c").as("__g"))
    val segTot = segTok.groupBy(segCol).agg(sum("__c").as("__n"))
    val grand = segTot.agg(sum("__n").as("__nn"))
    val joined = segTok.join(tokTot, "__tok")
      .join(broadcast(segTot), segCol)
      .crossJoin(broadcast(grand))
    val p = col("__c").cast("double") / col("__n").cast("double")
    // ANSI-safe: a single-segment corpus has an empty rest (__nn ==
    // __n) — q is never consumed there (the final jsd guard nulls the
    // row), but the division itself must not raise
    val q = when(col("__nn") > col("__n"),
      (col("__g") - col("__c")).cast("double") /
        (col("__nn") - col("__n")).cast("double")).otherwise(lit(0.0))
    // per-token JSD term over PRESENT tokens; p > 0 always here, q may
    // be 0 (token exclusive to the segment) — its ln term is dropped
    val term = p * log(lit(2.0) * p / (p + q)) +
      when(col("__g") > col("__c"),
        q * log(lit(2.0) * q / (p + q))).otherwise(lit(0.0))
    joined
      .groupBy(segCol)
      .agg(max(col("__n")).as("n_tokens"),
        count(lit(1)).as("vocab_seg"),
        sum(round(term * lit(500000.0)).cast("long")).as("__tm"),
        // exact integer mass of the segment's tokens under the REST
        // distribution — the absent-token remainder's complement
        sum(col("__g") - col("__c")).as("__qp"),
        max(col("__nn") - col("__n")).as("__qd"))
      .select(col(segCol), col("n_tokens"), col("vocab_seg"),
        when(col("__qd") > 0,
          round(col("__tm") / lit(1000000.0) +
            lit(math.log(2.0) / 2.0) *
              (lit(1.0) - col("__qp").cast("double") /
                col("__qd").cast("double")), 6)).as("jsd"))
  }

  def bigramStats(docs: DataFrame, textCol: String, idCol: String,
      rareBelow: Long = 5L): DataFrame = {
    // widened (opt r18): tokenize + bigram zip are the map side of the
    // (doc, bigram) pre-aggregate — heavy per row; integer counts after
    val t = widen(docs).select(col(idCol),
      filter(tokens(col(textCol)), x => x =!= lit("")).as("__t"))
    val bg = t.select(col(idCol), explode(zip_with(
        slice(col("__t"), lit(1), greatest(lit(0), size(col("__t")) - 1)),
        slice(col("__t"), lit(2), greatest(lit(0), size(col("__t")) - 1)),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    // pre-aggregate to (doc, bigram, count) BEFORE the global-frequency
    // join: the join then moves one row per distinct (doc, bigram) pair
    // instead of one per occurrence — on a repetitive web corpus that is
    // the difference between shuffling the token stream and shuffling
    // its (much smaller) per-doc vocabulary. Occurrence-weighted sums
    // reconstruct the exact same integer totals, so results are
    // bit-identical to the per-occurrence form.
    val bgc = bg.groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("__cnt"))
    val freq = bgc.groupBy("bigram").agg(sum("__cnt").as("__n"))
    bgc.join(freq, "bigram")
      .groupBy(idCol)
      .agg(sum("__cnt").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        (sum(col("__cnt") * col("__n")) / sum("__cnt")).as("avg_bigram_freq"),
        sum(when(col("__n") < rareBelow, col("__cnt")).otherwise(0L))
          .as("n_rare"))
  }

  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = array_distinct(tokens(col(textCol)))
    val scores = langProfiles.map { case (lang, words) =>
      lang -> size(array_intersect(toks,
        array(words.map(lit): _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    docs.select(col(idCol) +:
      scores.map { case (l, s) => s.as(s"score_$l") } :+
      pred.as("pred_lang"): _*)
  }

  /** Sliding-window chunk index for LLM training: each document yields
    * windows of `ctxLen` tokens at `stride` offsets (stride < ctxLen ⇒
    * overlapping context windows, the standard long-document training
    * trick), the last window truncated at the document end. Returns one
    * row per (doc, window): (idCol, chunk_idx, tok_start, tok_end —
    * exclusive).
    *
    * Pure per-row arithmetic + an executor-side `sequence()` explode:
    * ZERO shuffles at any corpus size — the chunk table is generated
    * where the document row already lives. Contrast
    * [[chunkForTraining]], which packs documents into a single global
    * token stream (cross-doc offsets, needs its prefix-sum machinery);
    * this operator windows WITHIN each document.
    */
  /** Content-defined chunking at token granularity (the gear/Rabin
    * idea applied to words): a chunk ends at every token whose
    * md5-60-bit hash is ≡ 0 (mod `avgLen`) — boundaries depend only
    * on LOCAL content, so an edit re-chunks just its neighborhood
    * while every other chunk keeps its exact extent and hash. That
    * edit-stability is the point: chunk hashes feed incremental /
    * cross-snapshot dedup ([[dedupIncremental]]) where fixed-width
    * chunks would shift every boundary after one insertion.
    * Expected chunk length = `avgLen` tokens (geometric); the final
    * chunk always closes at the document end. Returns one row per
    * chunk: (idCol, chunk_idx, start_tok, n_tokens, chunk_hash) with
    * chunk_hash = md5-60 of the space-joined chunk text — both the
    * boundary rule and the hash are the DuckDB-reproducible md5
    * slices, so the whole chunking is oracle-exact.
    *
    * Scale shape: pure projection + one generator — NO exchange at
    * any corpus size (chunking 100 TB is map-only). The per-chunk
    * slice copies partition the token array, so per-doc work stays
    * O(tokens), never O(tokens²).
    */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
      avgLen: Int = 64): DataFrame = {
    require(avgLen >= 2, "avgLen must be at least 2")
    requireNoReserved(docs, Seq("__toks", "__ends", "__c", "chunk_idx",
      "start_tok", "n_tokens", "chunk_hash"))
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val n = size(col("__toks"))
    val ends = filter(sequence(lit(1), n), i =>
      (pmod(md5Hash60(element_at(col("__toks"), i)),
        lit(avgLen.toLong)) === 0L) || (i === n))
    val chunks = transform(col("__ends"), (e, j) => {
      val start = when(j === 0, lit(1))
        .otherwise(element_at(col("__ends"), j) + 1)
      struct((j + 1).as("chunk_idx"), start.as("start_tok"),
        (e - start + 1).as("n_tokens"),
        md5Hash60(array_join(
          slice(col("__toks"), start, e - start + 1), " "))
          .as("chunk_hash"))
    })
    toks.withColumn("__ends", ends)
      .select(col(idCol), explode(chunks).as("__c"))
      .select(col(idCol), col("__c.chunk_idx").as("chunk_idx"),
        col("__c.start_tok").as("start_tok"),
        col("__c.n_tokens").as("n_tokens"),
        col("__c.chunk_hash").as("chunk_hash"))
  }

  /** Chunk-level cross-document duplication report — the consumer of
    * [[cdcChunks]]: per document, how much of it (chunk instances and
    * token mass) appears verbatim in at least `minDocs` distinct
    * documents. This is paragraph-granularity copy detection — the
    * intra-doc [[dedupSegments]] and whole-doc [[dedupExact]] miss a
    * boilerplate paragraph pasted across different documents; the
    * content-defined boundaries make the shared extent ROBUST to edits
    * around it (cdcChunks' edit-stability law). Returns
    * (idCol, n_chunks, n_shared, n_tokens, shared_token_frac).
    *
    * Scale shape (the bigramStats doctrine): the chunk stream
    * pre-aggregates to (chunk_hash, doc) BEFORE the corpus-wide
    * frequency count, so the hash-keyed exchange moves one row per
    * distinct (doc, chunk) — never one per occurrence; doc frequency
    * re-aggregates that table (exchange reuse), joins back
    * hash-keyed, and the final rollup is doc-keyed. The corpus is
    * scanned and chunked ONCE (cdcChunks is map-only).
    */
  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      avgLen: Int = 64, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    requireNoReserved(docs, Seq("__cnt", "__tok_sum", "__ndocs",
      "n_chunks", "n_shared", "n_tokens", "shared_token_frac"))
    val chunks = cdcChunks(docs, textCol, idCol, avgLen)
    val chc = chunks.groupBy(col("chunk_hash"), col(idCol))
      .agg(count(lit(1)).as("__cnt"), sum("n_tokens").as("__tok_sum"))
    // docs-per-hash over the (hash, doc) table: the when-guard consumes
    // BOTH of chc's aggregate columns so this branch's copy stays
    // canonically equal and reuses chc's exchange (the consume-trick —
    // pruning either column would re-plan the aggregate and re-chunk
    // the corpus)
    val byHash = chc.groupBy("chunk_hash")
      .agg(sum(when(col("__cnt") >= 1 && col("__tok_sum") >= 0, 1L))
        .as("__ndocs"))
    chc.join(byHash, "chunk_hash")
      .groupBy(idCol)
      .agg(sum("__cnt").as("n_chunks"),
        sum(when(col("__ndocs") >= minDocs, col("__cnt")).otherwise(0L))
          .as("n_shared"),
        sum("__tok_sum").as("n_tokens"),
        sum(when(col("__ndocs") >= minDocs, col("__tok_sum"))
          .otherwise(0L)).as("__shared_toks"))
      .select(col(idCol), col("n_chunks"), col("n_shared"),
        col("n_tokens"),
        round(col("__shared_toks").cast("double") /
          col("n_tokens").cast("double"), 6).as("shared_token_frac"))
  }

  def overlapChunks(df: DataFrame, idCol: String, nTokensCol: String,
      ctxLen: Int, stride: Int): DataFrame = {
    require(ctxLen > 0, "ctxLen must be positive")
    require(stride > 0 && stride <= ctxLen,
      "stride must be in [1, ctxLen] — a larger stride would skip tokens")
    requireNoReserved(df, Seq("__n", "__k", "__i"))
    df.select(col(idCol), col(nTokensCol).cast("long").as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__k", when(col("__n") <= ctxLen, lit(1L))
        .otherwise(expr(s"(__n - $ctxLen + ${stride - 1}) DIV $stride + 1")))
      .select(col(idCol), col("__n"),
        explode(sequence(lit(0L), col("__k") - 1)).as("__i"))
      .select(col(idCol),
        col("__i").cast("int").as("chunk_idx"),
        (col("__i") * stride).as("tok_start"),
        least(col("__i") * stride + ctxLen, col("__n")).as("tok_end"))
  }

  /** Blocked fuzzy equi-join (entity resolution): candidate pairs share
    * a lowercased `blockLen`-character prefix block, and survive iff
    * `levenshtein(left, right) <= maxDist`. Blocking is the standard
    * record-linkage trade: edit-distance against every pair is O(n²)
    * corpus-wide, but typo'd duplicates almost always agree on a short
    * prefix — so the join runs per block, never all-pairs. Returns
    * (leftIdCol, rightIdCol, dist).
    *
    * Shuffle shape: one hash exchange per side on the block key; the
    * per-block pair count is the quadratic term, so keep blocks small
    * (raise `blockLen`) on heavy-hitter prefixes — the same skew lever
    * as every LSH band in this file. Recall caveat (documented, not
    * hidden): an edit inside the first `blockLen` characters moves the
    * row to another block and the pair is missed; prefix blocking is a
    * candidate generator, not an exact algorithm.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
      leftCol: String, rightCol: String, leftIdCol: String,
      rightIdCol: String, maxDist: Int, blockLen: Int = 2): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    require(blockLen > 0, "blockLen must be positive")
    val l = left.select(col(leftIdCol), col(leftCol).as("__ltext"),
      lower(substring(col(leftCol), 1, blockLen)).as("__blk"))
    val r = right.select(col(rightIdCol), col(rightCol).as("__rtext"),
      lower(substring(col(rightCol), 1, blockLen)).as("__blk"))
    l.join(r, "__blk")
      .withColumn("dist", levenshtein(col("__ltext"), col("__rtext")))
      .filter(col("dist") <= maxDist)
      .select(col(leftIdCol), col(rightIdCol), col("dist"))
  }

  /** Intra-document segment dedup: split `textCol` on the LITERAL
    * separator `sep`, keep only the FIRST occurrence of each distinct
    * segment (original order preserved), and re-join. The standard
    * boilerplate-removal pass in LLM corpus curation — repeated lines /
    * paragraphs (nav bars, footers, chorus lines) collapse to one —
    * applied here at whatever granularity `sep` gives (lines for real
    * corpora, tokens for the synthetic single-line testdata).
    *
    * Returns (idCol, dedup_text, n_segments, n_unique).
    *
    * Shuffle shape: two hash exchanges — (id, segment) to find first
    * occurrences, then (id) to reassemble — both keyed BY document, so
    * partition sizes are bounded by document length, never corpus size;
    * the reassembly buffer (collect_list per doc) holds one document's
    * unique segments, which must fit in memory anyway to have been one
    * input row. No cross-document data movement at all → embarrassingly
    * parallel at 100 TB.
    */
  def dedupSegments(docs: DataFrame, textCol: String, idCol: String,
      sep: String): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    val quoted = java.util.regex.Pattern.quote(sep)
    val segs = docs.select(col(idCol),
      posexplode(split(col(textCol), quoted)).as(Seq("__pos", "__seg")))
    val firsts = segs.groupBy(col(idCol), col("__seg"))
      .agg(min("__pos").as("__pos"), count(lit(1)).as("__cnt"))
    firsts.groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          x => x.getField("__seg")), sep).as("dedup_text"),
        sum("__cnt").as("n_segments"),
        count(lit(1)).as("n_unique"))
  }
}

package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Stats.Metric

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --data <fixture root> --work <scratch dir> --out <file>
  * --fingerprints <file> --benchmark <BENCHMARK.json>`. Writes the result
  * object with the metrics BENCHMARK.json declares to `--out` (the
  * launcher prints it), and with tracing on the spans to
  * `<work>/spans.jsonl`.
  *
  * `--workload <name> --data <dir> --work <dir> --record <file>` instead
  * records what the checks compare against (see [[record]]).
  */
object Main {

  final case class CatalogWorkload(dataset: String, entries: Seq[String])

  /** Entry sets. Each pass must fit several times into a run, so a
    * workload times a fixed slice of its modules (see the README for how
    * it was chosen); the seed only orders it. */
  val catalogWorkloads: Map[String, CatalogWorkload] = Map(
    "curation_scaled" -> CatalogWorkload("curation", Seq(
      "cosine_topk", "pq_topk", "ann_bucketed", "dedup_best")))

  val ServeBlock: Seq[String] =
    Seq.fill(7)("search") ++ Seq.fill(2)("predict") :+ "ingest"
  /** The tail percentile: a run holds 10 to 16 ops, too few for a higher
    * one with ten samples beyond it. */
  val TailPct = 80
  val CatalogSetupReps = 5
  /** One: a serve setup trains a model and bootstraps two indexes (about
    * 30 s cold), so repeating it would not fit the run-time budget. */
  val ServeSetupReps = 1
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val dataRoot = a("data")
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    a.get("record") match {
      case Some(file) => record(workload, dataRoot, work, file)
      case None =>
        val traced = a("trace") == "1"
        val r = if (workload == "serve_mixed")
          serve(dataRoot, work, a("seed").toLong, a("seconds").toInt, traced,
            a("fingerprints"))
        else catalog(workload, dataRoot, work, a("seed").toLong,
          a("seconds").toInt, traced, a("fingerprints"))
        val declared = declaredMetrics(a("benchmark"),
          if (traced) "per_layer" else "end_to_end")
        Files.write(Paths.get(a("out")), Stats.resultJson(r.failed == 0,
          r.attempted, r.failed, select(r.metrics, declared, zeroFill = traced))
          .getBytes("UTF-8"))
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }

  final case class Result(attempted: Long, failed: Long, metrics: Seq[Metric])

  /** (name, unit) of every metric of one kind BENCHMARK.json declares. */
  def declaredMetrics(file: String, kind: String): Seq[(String, String)] =
    mapper.readTree(new java.io.File(file)).get(kind).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  /** The declared metrics, in declared order. A measured metric must be
    * declared with the same unit; a declared per-layer metric this
    * workload does not reach reads 0. */
  def select(measured: Seq[Metric], declared: Seq[(String, String)],
      zeroFill: Boolean): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val undeclared = byName.keySet -- declared.map(_._1)
    require(undeclared.isEmpty, s"undeclared metrics: ${undeclared.mkString(", ")}")
    declared.map { case (name, unit) =>
      byName.get(name) match {
        case Some(m) =>
          require(m.unit == unit, s"$name: unit ${m.unit}, declared $unit")
          m
        case None =>
          require(zeroFill, s"$name was not measured")
          Metric(name, 0.0, unit)
      }
    }
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  // ── session and setup ───────────────────────────────────────────────

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run a first aggregation and a first parquet read. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").collect()
  }

  /** Run `one` `reps` times, tearing down all but the last; returns the
    * last state and the median setup seconds. */
  def setUp[T](reps: Int, one: Int => T, tearDown: T => Unit): (T, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (rep <- 1 to reps) {
      last.foreach(tearDown)
      val t0 = System.nanoTime()
      last = Some(one(rep))
      times += (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: ${times.last}%.2f s")
    }
    (last.get, Stats.median(times.toSeq))
  }

  /** Old-generation occupancy after a full collection, MB: the least of
    * three collections 200 ms apart, so what Spark's cleaner releases
    * between them (broadcasts, shuffle state) is not counted as live. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null &&
          (p.getName.contains("Old") || p.getName.contains("Tenured")))
        .map(_.getCollectionUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
    }.min

  // ── catalog workloads ───────────────────────────────────────────────

  def catalog(workload: String, dataRoot: String, work: String, seed: Long,
      seconds: Int, traced: Boolean, fingerprints: String): Result = {
    val w = catalogWorkloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val dir = s"$dataRoot/${w.dataset}"
    val expected = loadFingerprints(fingerprints, workload)
    val entries = Catalog.entries(w.entries)
    val (spark, setupS) = setUp[SparkSession](CatalogSetupReps, _ => {
      val s = session(work)
      warmUp(s, dir)
      s
    }, _.stop())
    val trace = new Trace(spark, traced)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    val timed = Catalog.passes(spark, dir, entries, seed, seconds, trace,
      p => {
        log(f"pass: ${p.wallNs / 1e9}%.2f s " + p.timed.map(t =>
          s"${t.entry.spec.name}=${t.totalNs / 1000000}ms").mkString(" "))
        attempted += p.timed.length
        failures ++= p.timed.flatMap(Catalog.check(_, expected))
      })
    val heap = liveHeapMb()
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val plain = timed.filterNot(_.traced)
    val lat = plain.flatMap(_.timed.map(_.totalNs / 1e6))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", Stats.median(plain.map(_.wallNs / 1e9)), "s"),
      Metric("op_p50_ms", Stats.median(lat), "ms"),
      Metric("op_tail_ms", Stats.quantile(lat, TailPct / 100.0), "ms"),
      Metric("ok_ratio", 1.0 - failures.length.toDouble / attempted, "ratio"),
      Metric("live_heap_mb", heap, "MB"))
    val metrics =
      if (!traced) e2e
      else catalogLayers(trace, timed) ++
        commonLayers(spark, dir, trace, Stats.median(plain.map(_.wallNs / 1e9)),
          Stats.median(timed.filter(_.traced).map(_.wallNs / 1e9)))
    trace.writeSpans(Paths.get(s"$work/spans.jsonl"))
    Result(attempted, failures.length, metrics)
  }

  private def catalogLayers(trace: Trace, timed: Seq[Catalog.Pass]): Seq[Metric] = {
    val tracedEntries = timed.filter(_.traced).flatMap(_.timed)
    Seq(
      Metric("catalog.build_s", tracedEntries.map(_.buildNs).sum / 1e9, "s"),
      Metric("catalog.eager_jobs", trace.jobsUnder("build").toDouble, "count")) ++
      tracedEntries.groupBy(_.entry.module).toSeq.sortBy(_._1).map {
        case (m, ts) => Metric(s"catalog.${m}_s", ts.map(_.totalNs).sum / 1e9, "s") } ++
      Seq(Metric("scan.rows_per_output_row",
        trace.counter("scan.input_rows") /
          math.max(1L, tracedEntries.flatMap(_.fingerprint).map(_.rows).sum),
        "ratio"))
  }

  /** Layers every traced run reports: counters, self time per span,
    * kernels, and the tracing overhead (traced vs untraced units of the
    * same run). Zero where the workload does not reach the layer. */
  private def commonLayers(spark: SparkSession, dir: String, trace: Trace,
      plainUnitS: Double, tracedUnitS: Double): Seq[Metric] =
    trace.counterMetrics ++ trace.execMetrics ++
      Seq("pass", "entry", "build", "materialize", "search", "predict",
        "ingest", "append_text", "append_vec", "reload").map(n =>
        Metric(s"self.${n}_s", trace.selfSeconds.getOrElse(n, 0.0), "s")) ++
      Kernels.measure(spark, dir) :+
      Metric("trace.overhead_ratio", tracedUnitS / plainUnitS - 1.0, "ratio")

  // ── serve_mixed ─────────────────────────────────────────────────────

  def serve(dataRoot: String, work: String, seed: Long, seconds: Int,
      traced: Boolean, fingerprints: String): Result = {
    val dir = s"$dataRoot/sf0.1"
    val (st, setupS) = setUp[Serve.State](ServeSetupReps, rep => {
      val s = session(work)
      val root = s"$work/serve/rep$rep"
      deleteTree(Paths.get(root))
      Serve.setup(s, dir, root)
    }, st => { st.stop(); st.spark.stop() })
    val trace = new Trace(st.spark, traced)
    val blocks = Serve.run(st, dir, seed, seconds, trace, ServeBlock,
      minBlocks = if (traced) 2 else 1, traced = b => traced && b % 2 == 1,
      onBlock = b =>
        log(s"block: ${b.ops.map(o => s"${o.kind}=${o.latencyNs / 1000000}ms").mkString(" ")}"))
    val heap = liveHeapMb()
    val timedBlocks = blocks.drop(1)
    val ops = timedBlocks.flatMap(_.ops)
    val (probes, probeErrs) = Serve.verify(st, dir, s"$work/serve/twin",
      blocks.flatMap(_.ops).count(_.kind == "ingest"),
      loadTwinAnswers(fingerprints))
    val failures = ops.flatMap(_.error) ++ probeErrs
    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val attempted = ops.length + probes
    val plain = timedBlocks.filterNot(_.traced)
    val lat = plain.flatMap(_.ops.map(_.latencyNs / 1e6))
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", Stats.median(plain.map(_.wallNs / 1e9)), "s"),
      Metric("op_p50_ms", Stats.median(lat), "ms"),
      Metric("op_tail_ms", Stats.quantile(lat, TailPct / 100.0), "ms"),
      Metric("ok_ratio", 1.0 - failures.length.toDouble / attempted, "ratio"),
      Metric("live_heap_mb", heap, "MB"))
    val metrics =
      if (!traced) e2e
      else serveLayers(st, trace, plain.flatMap(_.ops), ops) ++
        commonLayers(st.spark, dir, trace,
          Stats.median(plain.map(_.wallNs / 1e9)),
          Stats.median(timedBlocks.filter(_.traced).map(_.wallNs / 1e9)))
    trace.writeSpans(Paths.get(s"$work/spans.jsonl"))
    st.stop()
    Result(attempted, failures.length, metrics)
  }

  private def serveLayers(st: Serve.State, trace: Trace, plainOps: Seq[Serve.Op],
      allOps: Seq[Serve.Op]): Seq[Metric] = {
    def p50(kind: String, xs: Seq[Serve.Op] = plainOps) = {
      val l = xs.filter(_.kind == kind).map(_.latencyNs / 1e6)
      if (l.isEmpty) 0.0 else Stats.median(l)
    }
    def spanMs(name: String) = {
      val s = trace.spansNamed(name)
      if (s.isEmpty) 0.0 else Stats.median(s.map(x => (x.end - x.start) / 1e6))
    }
    def perSpan(name: String, n: Double) =
      n / math.max(1, trace.spansNamed(name).length)
    val (segments, epochs) = Serve.layout(st)
    // by index layout: every timed block adds a segment, so these use
    // traced and untraced searches alike
    val searches = allOps.filter(_.kind == "search")
    val minSeg = if (searches.isEmpty) 0 else searches.map(_.segments).min
    val maxSeg = if (searches.isEmpty) 0 else searches.map(_.segments).max
    Seq(
      Metric("serve.search_p50_ms", p50("search"), "ms"),
      Metric("serve.predict_p50_ms", p50("predict"), "ms"),
      Metric("serve.ingest_p50_ms", p50("ingest"), "ms"),
      Metric("index.search_p50_ms_first_layout",
        p50("search", searches.filter(_.segments == minSeg)), "ms"),
      Metric("index.search_p50_ms_last_layout",
        p50("search", searches.filter(_.segments == maxSeg)), "ms"),
      Metric("index.lex_ms", spanMs("lex"), "ms"),
      Metric("index.dense_ms", spanMs("dense"), "ms"),
      Metric("index.jobs_per_search", perSpan("search", trace.jobsUnder("search").toDouble), "count"),
      Metric("index.files_per_search", perSpan("search", st.filesRead.toDouble), "count"),
      Metric("index.reload_ms", spanMs("reload"), "ms"),
      Metric("index.append_text_ms", spanMs("append_text"), "ms"),
      Metric("index.append_vec_ms", spanMs("append_vec"), "ms"),
      Metric("index.segments_live", segments.toDouble, "count"),
      Metric("index.epochs_live", epochs.toDouble, "count"),
      Metric("serving.http_ms", spanMs("predict"), "ms"),
      Metric("serving.score_ms", spanMs("score"), "ms"),
      // the HTTP handler runs on a server thread, which the span property
      // does not reach: count the jobs of the same prediction made directly
      Metric("serving.jobs_per_predict",
        perSpan("score", trace.jobsUnder("score").toDouble), "count"),
      Metric("ml.train_s", st.trainS, "s"),
      Metric("ml.index_build_s", st.indexS, "s"))
  }

  // ── fingerprints ────────────────────────────────────────────────────

  private val mapper = new ObjectMapper()

  private def recorded(file: String, workload: String) = {
    val node = mapper.readTree(new java.io.File(file)).get(workload)
    require(node != null, s"nothing recorded for $workload in $file")
    node.properties().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  def loadFingerprints(file: String, workload: String): Map[String, Catalog.Expected] =
    recorded(file, workload).map { case (name, v) =>
      name -> Catalog.Expected(v.get("rows").asLong,
        Option(v.get("hash")).filterNot(_.isNull).map(_.asLong))
    }

  /** serve_mixed twin answers: ingest count -> probe id -> answer rows. */
  def loadTwinAnswers(file: String): Map[Int, Map[Long, Seq[String]]] =
    recorded(file, "serve_mixed").map { case (n, probes) =>
      n.toInt -> probes.properties().asScala.map(e =>
        e.getKey.toLong -> e.getValue.elements().asScala.map(_.asText).toSeq).toMap
    }

  /** Record what the checks compare against, in `file` under the
    * workload's key: catalog fingerprints from three seeded orders (an
    * entry whose hash differs between orders keeps its row count only),
    * or serve_mixed's twin answers for one to three ingests. */
  def record(workload: String, dataRoot: String, work: String, file: String): Unit = {
    val f = new java.io.File(file)
    val all = (if (f.exists()) mapper.readTree(f) else mapper.createObjectNode())
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val node = all.putObject(workload)
    val spark = session(work)
    if (workload == "serve_mixed") {
      for (n <- 1 to 3) {
        val byProbe = node.putObject(n.toString)
        Serve.twinAnswers(spark, s"$dataRoot/sf0.1", s"$work/twin$n", n)
          .toSeq.sortBy(_._1).foreach { case (id, rows) =>
            val arr = byProbe.putArray(id.toString)
            rows.foreach(r => arr.add(r))
          }
      }
    } else {
      val w = catalogWorkloads(workload)
      val dir = s"$dataRoot/${w.dataset}"
      val trace = new Trace(spark, enabled = false)
      val entries = Catalog.entries(w.entries)
      val runs = (1 to 3).map { i =>
        new scala.util.Random(i).shuffle(entries)
          .map(Catalog.run(spark, dir, _, trace))
          .map(t => t.entry.spec.name -> t).toMap
      }
      entries.map(_.spec.name).sorted.foreach { n =>
        val fps = runs.map(_(n))
        fps.flatMap(_.error).headOption.foreach(e => sys.error(s"$n failed: $e"))
        val vals = fps.map(_.fingerprint.get)
        require(vals.map(_.rows).distinct.length == 1, s"$n: row count varies")
        val o = node.putObject(n)
        o.put("rows", vals.head.rows)
        if (vals.map(_.hash).distinct.length == 1) o.put("hash", vals.head.hash)
        else o.putNull("hash")
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, all)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => Files.delete(x))
}

package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters recorded from outside the program.
  *
  * Spans are kept in memory (name, layer, parent, start, end) and written
  * out at exit; self time is a span's duration minus its children's.
  * Spark jobs are attributed to the innermost open span through the
  * `perfbench.span` local property, which the scheduler copies onto
  * every job submitted from the calling thread.
  *
  * Counters (task metrics, query-planning phases, scan metrics, codegen,
  * GC and JIT) accumulate only while [[active]] is set, so a run can
  * interleave traced and untraced work and report the difference as the
  * tracing overhead. With tracing off no span is recorded and no
  * listener is registered.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  @volatile var active: Boolean = false
  private val cores = spark.sparkContext.defaultParallelism

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var stack: List[Span] = Nil
  private val nextId = new AtomicLong(1L)
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Long, AtomicLong]()

  // counters, written by listener threads
  private val c = new java.util.concurrent.ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    c.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def counter(k: String): Double = Option(c.get(k)).map(_.sum).getOrElse(0.0)

  /** Time `body` as a span of `layer`; with tracing off only runs it. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!(enabled && active)) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId.getAndIncrement(), parent, name, layer,
        System.nanoTime())
      spans += s
      byId(s.id) = s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Jobs started under spans named `name` or any span nested in one. */
  def jobsUnder(name: String): Long = {
    flush()
    val ids = spans.filter(_.name == name).map(_.id).toSet
    def within(id: Long): Boolean =
      id != 0L && (ids.contains(id) || byId.get(id).exists(x => within(x.parent)))
    jobsBySpan.asScala.collect { case (id, n) if within(id) => n.get }.sum
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Sum of self time (duration minus children) per span name, seconds. */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0L) childTime(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childTime(s.id)).sum / 1e9 }
  }

  // ── JVM-side counters: sampled at the edges of traced work ──────────
  private var jvmAt: Map[String, Double] = Map.empty
  private def jvmNow: Map[String, Double] = Map(
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum / 1e3,
    "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "codegen.classes" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private var wallStart = 0L

  /** Start counting; pairs with [[stop]]. */
  def start(): Unit = if (enabled) {
    flush()
    jvmAt = jvmNow
    wallStart = System.nanoTime()
    active = true
  }

  def stop(): Unit = if (enabled && active) {
    val wall = (System.nanoTime() - wallStart) / 1e9
    flush() // deliver what the traced work posted while still counting
    active = false
    jvmNow.foreach { case (k, v) => add(k, v - jvmAt(k)) }
    add("wall_s", wall)
  }

  /** Wait until listener threads have seen every event posted so far. */
  def flush(): Unit = if (enabled) Trace.drain(spark)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
        add("exec.jobs", 1)
        Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
          .foreach(id => jobsBySpan.computeIfAbsent(id.toLong,
            _ => new AtomicLong()).incrementAndGet())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (active) add("exec.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
        add("exec.tasks", 1)
        if (!e.taskInfo.successful) add("exec.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_s", m.executorRunTime / 1e3)
          add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          add("exec.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead) / MB)
          add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
          add("scan.input_mb", m.inputMetrics.bytesRead / MB)
          add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (active) record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        if (active) record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    add("sql.actions", 1)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("sql.analysis_ms", ms("analysis"))
    add("sql.optimization_ms", ms("optimization"))
    add("sql.planning_ms", ms("planning"))
    add("scan.files_read", scanFiles(qe.executedPlan).toDouble)
  }

  /** Derived per-layer values over everything counted so far. */
  def execMetrics: Seq[Stats.Metric] = {
    val wall = counter("wall_s")
    val run = counter("exec.task_run_s")
    Seq(
      Stats.Metric("exec.idle_core_s", math.max(0.0, cores * wall - run), "s"),
      Stats.Metric("exec.core_busy_ratio",
        if (wall > 0) run / (cores * wall) else 0.0, "ratio"))
  }

  def counterMetrics: Seq[Stats.Metric] = Seq(
    "sql.actions" -> "count", "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms", "codegen.classes" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.failed_tasks" -> "count",
    "scan.input_mb" -> "MB", "scan.input_rows" -> "count",
    "scan.files_read" -> "count", "jvm.gc_s" -> "s", "jvm.jit_ms" -> "ms",
  ).map { case (k, u) => Stats.Metric(k, counter(k), u) }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""layer": "${s.layer}", "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""jobs": ${Option(jobsBySpan.get(s.id)).map(_.get).getOrElse(0L)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      start: Long, var end: Long = -1L)
  private val MB = 1024.0 * 1024.0

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.waitForListeners(spark.sparkContext)

  /** Every physical node of an executed plan, through adaptive wrappers
    * and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => Seq(other)
    }
    here ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes)
  }

  /** Files the plan's parquet scans opened. */
  def scanFiles(p: SparkPlan): Long = nodes(p).collect {
    case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum
}

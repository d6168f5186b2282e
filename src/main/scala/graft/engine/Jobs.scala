package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library analogue of the reference's ops surface — the training-job
  * registry and model-management endpoints of its HTTP API
  * (reference: api/api.py:112-293), minus the HTTP plumbing:
  *
  *   - [[submitTrain]] ≙ POST /train — trains synchronously (the
  *     reference does too, despite importing BackgroundTasks), saves
  *     under `modelDir/<jobId>`, records completed/failed in the
  *     registry (api/api.py:112-161);
  *   - [[jobStatus]] / [[listJobs]] ≙ GET /jobs/{id}, /jobs
  *     (api/api.py:227-240);
  *   - [[metrics]] ≙ GET /metrics — job counts (api/api.py:271-279);
  *   - [[listModels]] ≙ GET /models — reads the run-tracking JSONL
  *     [[Orchestrator.logRun]] writes (the MLflow-boundary analogue;
  *     the reference lists MLflow runs, api/api.py:245-267);
  *   - [[deleteModel]] ≙ DELETE /models/{path} — the reference's
  *     handler is a stub (api/api.py:282-293 "In production, implement
  *     actual model deletion"); this one actually deletes, guarded so
  *     only a directory that IS a saved Spark ML model is removable.
  *
  * Job ids are a process-local counter, not the reference's wall-clock
  * string — deterministic under test and collision-free under
  * concurrent submission.
  */
object Jobs {

  final case class Job(jobId: String, status: String, algorithm: String,
      taskType: String, modelPath: Option[String],
      metrics: Map[String, Double], error: Option[String])

  private val registry = new ConcurrentHashMap[String, Job]()
  private val counter = new AtomicLong(0L)

  /** Train, save, register. Returns the job id; look up the outcome
    * with [[jobStatus]]. A failed train records status "failed" with
    * the error and throws nothing (the request/response boundary of
    * the reference, where the caller polls).
    */
  def submitTrain(df: DataFrame, featureCols: Seq[String],
      algorithm: String, taskType: String, modelDir: String,
      tune: Boolean = false): String = {
    val jobId = s"train_${counter.incrementAndGet()}"
    try {
      val result =
        if (tune) MLPipe.hyperparameterTuning(df, featureCols, algorithm)
        else MLPipe.train(df, featureCols, algorithm, taskType)
      val path = s"$modelDir/$jobId"
      MLPipe.saveModel(result.model, path)
      registry.put(jobId, Job(jobId, "completed", algorithm, taskType,
        Some(path), result.metrics, None))
    } catch {
      case e: Exception =>
        registry.put(jobId, Job(jobId, "failed", algorithm, taskType,
          None, Map.empty, Some(e.toString)))
    }
    jobId
  }

  /** Run a [[Quality]] contract as a registered job: per-rule metrics
    * land in the job's metrics map (`rule describe` → metric; null
    * vacuous-pass metrics are omitted), status is `completed` when
    * every rule passed and `failed` (with the failing rules in the
    * error) otherwise — so the same /jobs surface that tracks training
    * tracks data contracts, and a scheduler polls one registry.
    */
  def submitQuality(df: DataFrame, rules: Seq[Quality.Rule]): String = {
    val jobId = s"quality_${counter.incrementAndGet()}"
    try {
      val report = Quality.check(df, rules).collect()
      val metrics = report.flatMap(r =>
        if (r.isNullAt(2)) None
        else Some(r.getString(1) -> r.getDouble(2))).toMap
      val failing = report.filterNot(_.getBoolean(4)).map(_.getString(1))
      if (failing.isEmpty)
        registry.put(jobId, Job(jobId, "completed", "quality_check",
          "quality", None, metrics, None))
      else
        registry.put(jobId, Job(jobId, "failed", "quality_check",
          "quality", None, metrics,
          Some(s"rules failed: ${failing.mkString(", ")}")))
    } catch {
      case e: Exception =>
        registry.put(jobId, Job(jobId, "failed", "quality_check",
          "quality", None, Map.empty, Some(e.toString)))
    }
    jobId
  }

  def jobStatus(jobId: String): Option[Job] = Option(registry.get(jobId))

  def listJobs(): Seq[Job] =
    registry.values().toArray(Array.empty[Job]).toSeq.sortBy(_.jobId)

  /** GET /metrics analogue: (total, completed, failed). */
  def metrics(): Map[String, Long] = {
    val jobs = listJobs()
    Map(
      "total_training_jobs" -> jobs.size.toLong,
      "completed_jobs" -> jobs.count(_.status == "completed").toLong,
      "failed_jobs" -> jobs.count(_.status == "failed").toLong)
  }

  /** GET /models analogue: one row per recorded run from the
    * [[Orchestrator.logRun]] JSONL (algorithm, task, rows, metrics.*),
    * empty if nothing has been logged yet.
    */
  def listModels(spark: SparkSession, metricsLogPath: String): DataFrame = {
    if (!Generations.exists(metricsLogPath)) spark.emptyDataFrame
    else spark.read.json(metricsLogPath)
  }

  /** DELETE /models/{path} analogue — real deletion, guarded: refuses
    * any directory that does not look like a saved Spark ML model
    * (must contain `metadata/`), so a mistyped path can't delete data.
    * Also evicts the serving cache entry.
    */
  def deleteModel(path: String): Boolean = {
    require(Generations.exists(s"$path/metadata"),
      s"$path is not a saved model directory (no metadata/) — refusing")
    Scoring.evict(path)
    Generations.delete(path)
  }

  /** Test hook: forget all jobs (process-local state). */
  def reset(): Unit = { registry.clear(); counter.set(0L) }
}

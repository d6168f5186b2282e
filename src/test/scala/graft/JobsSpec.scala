package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Jobs, Orchestrator, PipelineConfig, Scoring}

/** The ops surface: train jobs land in the registry with metrics and a
  * loadable model, failures record without throwing, model listing
  * reads the run log, deletion is guarded and real.
  */
class JobsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  val features = Seq("feature_1", "feature_2", "feature_3")
  lazy val sample = (1 to 40).map(i =>
    (i.toDouble, (i * 3 % 7).toDouble, (i * 5 % 11).toDouble, i % 2))
    .toDF("feature_1", "feature_2", "feature_3", "label")

  test("submitTrain registers a completed job with metrics and model") {
    Jobs.reset()
    val dir = Files.createTempDirectory("graft-jobs").toString
    val id = Jobs.submitTrain(sample, features, "logistic_regression",
      "classification", dir)
    val job = Jobs.jobStatus(id).get
    assert(job.status == "completed")
    assert(job.metrics.contains("accuracy"))
    val path = job.modelPath.get
    // the saved model serves through the cached Scoring path
    val preds = Scoring.predictRows(spark, path, features,
      Seq(Seq(1.0, 3.0, 5.0), Seq(2.0, 6.0, 10.0)))
    assert(preds.size == 2)
    assert(Jobs.metrics()("completed_jobs") == 1L)
  }

  test("a failing train records status=failed and does not throw") {
    Jobs.reset()
    val dir = Files.createTempDirectory("graft-jobs-f").toString
    val id = Jobs.submitTrain(sample, features, "no_such_algorithm",
      "classification", dir)
    val job = Jobs.jobStatus(id).get
    assert(job.status == "failed")
    assert(job.error.nonEmpty)
    assert(Jobs.metrics()("failed_jobs") == 1L)
    assert(Jobs.listJobs().size == 1)
  }

  test("listModels reads the run-tracking JSONL; empty before any run") {
    val missing = Files.createTempDirectory("graft-ml").toString + "/none.jsonl"
    assert(Jobs.listModels(spark, missing).isEmpty)
    val log = Files.createTempDirectory("graft-ml2").toString + "/runs.jsonl"
    val cfg = PipelineConfig(metricsLogPath = log)
    Orchestrator.logRun(log, cfg, rows = 40L,
      Map("accuracy" -> 0.9, "f1" -> 0.88))
    val models = Jobs.listModels(spark, log)
    assert(models.count() == 1)
    // metrics arrive as a nested struct: metrics.accuracy etc.
    assert(models.select("metrics.accuracy").head().getDouble(0) == 0.9)
    assert(models.select("algorithm").head().getString(0) == "random_forest")
  }

  test("deleteModel removes a real model dir and refuses non-models") {
    Jobs.reset()
    val dir = Files.createTempDirectory("graft-jobs-d").toString
    val id = Jobs.submitTrain(sample, features, "logistic_regression",
      "classification", dir)
    val path = Jobs.jobStatus(id).get.modelPath.get
    assert(Jobs.deleteModel(path))
    assert(!new java.io.File(path).exists())
    val plain = Files.createTempDirectory("graft-not-a-model").toString
    intercept[IllegalArgumentException] { Jobs.deleteModel(plain) }
    assert(new java.io.File(plain).exists(), "refused dir must survive")
  }

  test("deleteModel finds and removes a model saved on a non-local " +
      "Hadoop filesystem, and still refuses non-models there") {
    GraftFs.register(spark)
    Jobs.reset()
    val dir = GraftFs.tempRoot("graft-jobs-gfs")
    val id = Jobs.submitTrain(sample, features, "logistic_regression",
      "classification", dir)
    val path = Jobs.jobStatus(id).get.modelPath.get
    assert(path.startsWith("graftfs:"))
    assert(Jobs.deleteModel(path))
    assert(!graft.engine.Generations.exists(path))
    val plain = s"${GraftFs.tempRoot("graft-gfs-not-a-model")}/data"
    Seq(1L).toDF("x").write.parquet(plain)
    intercept[IllegalArgumentException] { Jobs.deleteModel(plain) }
    assert(graft.engine.Generations.exists(plain), "refused dir must survive")
  }

  test("quality contracts run as registered jobs: pass completes with " +
      "per-rule metrics, violation fails naming the rule") {
    import graft.engine.Quality
    Jobs.reset()
    val clean = Seq((1L, 5.0), (2L, 7.0)).toDF("id", "v")
    val ok = Jobs.submitQuality(clean, Seq(
      Quality.Complete("v", 1.0), Quality.InRange("v", 0.0, 10.0, 1.0)))
    val okJob = Jobs.jobStatus(ok).get
    assert(okJob.status == "completed" && okJob.taskType == "quality")
    assert(okJob.metrics("complete(v)") == 1.0)
    val dirty = Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v")
    val bad = Jobs.submitQuality(dirty, Seq(
      Quality.InRange("v", 0.0, 10.0, 1.0)))
    val badJob = Jobs.jobStatus(bad).get
    assert(badJob.status == "failed")
    assert(badJob.error.get.contains("in_range(v)"))
    assert(badJob.metrics("in_range(v)") == 0.5)
    // both show up in the shared registry + counters
    assert(Jobs.metrics()("failed_jobs") >= 1L)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Prints a physical-plan red-flag audit over the whole catalog:
  * cartesian products, sort-merge joins, nested-loop joins,
  * single-partition windows, and graft kernels projected on the
  * streamed side of a nested-loop join, per query.
  *
  * A nested-loop join is not a red flag by itself (a broadcast 1-row
  * aggregate crossed onto a table is the cheap way to attach global
  * stats), but a graft kernel on its streamed side is: whole-stage
  * codegen defers the streamed projection into the join's loop over
  * the broadcast rows, so the kernel runs once per (row, broadcast row)
  * pair instead of once per row — the search family scores a query
  * batch inside one per-row kernel instead
  * ([[graft.functions.QueryBatch]]).
  */
object PlanAudit {

  /** The graft kernel expressions (class names under `graft.functions`)
    * evaluated by the operators whole-stage codegen fuses into the
    * streamed side of a nested-loop join — the ones that run once per
    * pair. Empty for a clean plan. */
  def kernelsOnNestedLoopStream(plan: SparkPlan): Seq[String] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    // operators up to the codegen stage boundary of the streamed input
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: Exchange | _: QueryStageExec | _: InputAdapter |
           _: AdaptiveSparkPlanExec => Nil
      case w: WholeStageCodegenExec => fused(w.child)
      case o => o +: o.children.flatMap(fused)
    }
    nodes(plan).collect { case j: BroadcastNestedLoopJoinExec =>
      if (j.buildSide == BuildLeft) j.right else j.left
    }.flatMap(fused).flatMap(_.expressions).flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") =>
        e.getClass.getSimpleName
    }).distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect()
        val planNode = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p                        => p
        }
        val plan = planNode.toString
        // typed check, not string-matching: a WindowExec whose input is
        // SinglePartition-distributed funnels the whole dataset through
        // one task (the round-1 string detector missed exactly this on
        // ntile_binning — "PartitionBy" never appears in physical plans)
        val globalWindow = planNode.collect {
          case w: WindowExec
              if w.child.outputPartitioning == SinglePartition => w
        }.nonEmpty
        val perPair = kernelsOnNestedLoopStream(df.queryExecution.executedPlan)
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          "GlobalWindow(1part)" -> globalWindow,
          s"KernelPerPair(${perPair.mkString("/")})" -> perPair.nonEmpty)
          .collect { case (f, true) => f }
        println(s"[audit] $name: " +
          (if (flags.isEmpty) "clean" else flags.mkString(", ")))
      } catch { case e: Throwable =>
        println(s"[audit] $name: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}

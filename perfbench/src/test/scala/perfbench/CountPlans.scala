package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Lists the catalog entries whose `.count()` plan no longer computes the
  * entry: the count's optimized plan is only aggregates, filters, column
  * pruning and relations, while the entry's own plan does more. Those are
  * the entries a `.count()`-timed benchmark (graft.Bench) under-measures.
  *
  *   sbt "Test/runMain perfbench.CountPlans <dataset dir>"
  */
object CountPlans {

  private def computes(e: Expression): Boolean = !e.isInstanceOf[Attribute] &&
    !(e.isInstanceOf[Alias] && e.children.forall(_.isInstanceOf[Attribute]))

  private def trivial(p: LogicalPlan, allowAggregate: Boolean): Boolean =
    p.collectFirst {
      case a: Aggregate if !allowAggregate => a
      case x @ Project(list, _) if list.exists(computes) => x
      case x if !(x.isInstanceOf[Aggregate] || x.isInstanceOf[Project] ||
        x.isInstanceOf[Filter] || x.isInstanceOf[LogicalRelation] ||
        x.isInstanceOf[LocalRelation] || x.isInstanceOf[Union]) => x
    }.isEmpty

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pruned = Catalog.modules.flatMap { case (module, specs) =>
      specs.flatMap { q =>
        try {
          val df = q.fn(spark, args(0))
          val count = df.groupBy().count().queryExecution.optimizedPlan
          val own = df.queryExecution.optimizedPlan
          if (trivial(count, allowAggregate = true) &&
              !trivial(own, allowAggregate = false)) Some(s"$module/${q.name}")
          else None
        } catch { case e: Exception => Some(s"$module/${q.name} (error: ${e.getMessage.take(80)})") }
      }
    }
    println(s"[count-plans] ${pruned.length} entries: ${pruned.mkString(" ")}")
    spark.stop()
  }
}

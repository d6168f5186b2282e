package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The timed action must compute what the entry computes. `.count()`
  * lets the optimizer drop a projection-only entry down to a parquet row
  * count; the noop-sink materialization the benchmark times must keep the
  * entry's projection (here: the ML stages' UDFs). */
class TimedPlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private lazy val dir = {
    val d = Files.createTempDirectory("perfbench-plan").toString
    val s = spark
    import s.implicits._
    (0 until 200).map(i => (i.toLong / 4, i % 4 + 1, i.toLong % 13,
        i.toLong % 7, (i % 50 + 1).toDouble, (i % 11) / 100.0,
        1000.0 + i * 3.5))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_discount", "l_extendedprice")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }

  /** Executed plans of every action `body` runs. */
  private def plans(body: => Unit): Seq[QueryExecution] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; org.apache.spark.PerfbenchAccess.waitForListeners(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toSeq)
  }

  private def projectedUdfs(qes: Seq[QueryExecution]): Int =
    qes.flatMap(qe => Trace.nodes(qe.executedPlan)).collect {
      case p: ProjectExec =>
        p.projectList.map(_.collect { case u: ScalaUDF => u }.size).sum
    }.sum

  for (name <- Seq("poly_features", "l2_normalizer")) {
    test(s"$name: the timed plan keeps the projection .count() prunes") {
      val entry = Catalog.entries(Seq(name)).head
      val timed = plans(Catalog.materialize(entry.spec.fn(spark, dir),
        Observation(s"t-$name")))
      val counted = plans(entry.spec.fn(spark, dir).count())
      assert(projectedUdfs(counted) == 0,
        "premise: .count() prunes the entry's projection")
      assert(projectedUdfs(timed) >= 2,
        "the timed plan lost the entry's projection (assembler + ML stage)")
    }
  }
}

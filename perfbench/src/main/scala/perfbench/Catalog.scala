package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.engine.QuerySpec

/** The catalog workloads: passes over a fixed set of catalog entries in
  * a seeded order, every result materialized through the `noop` sink
  * (all columns computed; a `.count()` would let the optimizer prune
  * projection-only entries down to a parquet row count) and checked
  * against its recorded fingerprint.
  */
object Catalog {

  /** Catalog modules by the name the per-layer metrics use. */
  val modules: Seq[(String, Seq[QuerySpec])] = Seq(
    "relational" -> graft.engine.Relational.catalog,
    "tpch" -> graft.engine.TpchQueries.catalog,
    "ml" -> graft.engine.MLQueries.catalog,
    "analytics" -> graft.engine.AnalyticsQueries.catalog,
    "extensions" -> graft.engine.ExtensionQueries.catalog)

  final case class Entry(module: String, spec: QuerySpec)

  def entries(names: Seq[String]): Seq[Entry] = {
    val all = modules.flatMap { case (m, specs) => specs.map(s => s.name -> Entry(m, s)) }.toMap
    names.map(n => all.getOrElse(n, sys.error(s"no catalog entry named $n")))
  }

  final case class Timed(entry: Entry, buildNs: Long, totalNs: Long,
      fingerprint: Option[Fingerprint.Value], error: Option[String])

  /** The timed action: every column of every row computed, written to the
    * noop sink, fingerprinted on the way. */
  def materialize(df: DataFrame, obs: Observation): Unit =
    Fingerprint.observed(df, obs).write.format("noop").mode("overwrite").save()

  /** Build the entry's plan and materialize it through the noop sink. */
  def run(spark: SparkSession, dir: String, e: Entry, trace: Trace): Timed =
    trace.span("entry", "catalog") {
      val t0 = System.nanoTime()
      try {
        val df = trace.span("build", "catalog")(e.spec.fn(spark, dir))
        val t1 = System.nanoTime()
        val obs = Observation(s"fp-${e.spec.name}")
        trace.span("materialize", "exec")(materialize(df, obs))
        val t2 = System.nanoTime()
        Timed(e, t1 - t0, t2 - t0, Some(Fingerprint.value(obs)), None)
      } catch {
        case ex: Exception =>
          Timed(e, 0L, System.nanoTime() - t0, None,
            Some(s"${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300)))
      }
    }

  /** A recorded fingerprint: rows always, hash unless the entry's output
    * rows are not a function of its input (ties under a limit). */
  final case class Expected(rows: Long, hash: Option[Long])

  def check(t: Timed, expected: Map[String, Expected]): Option[String] =
    t.error.orElse {
      val name = t.entry.spec.name
      (expected.get(name), t.fingerprint) match {
        case (None, _) => Some(s"$name: no recorded fingerprint")
        case (Some(x), Some(fp)) =>
          if (fp.rows != x.rows) Some(s"$name: ${fp.rows} rows, recorded ${x.rows}")
          else if (x.hash.exists(_ != fp.hash))
            Some(s"$name: fingerprint ${fp.hash}, recorded ${x.hash.get}")
          else None
        case (Some(_), None) => Some(s"$name: no fingerprint")
      }
    }

  final case class Pass(wallNs: Long, timed: Seq[Timed], traced: Boolean)

  /** Run passes in seeded orders: one priming pass (generated code and
    * JIT; checked, not timed), then timed passes until `seconds` have
    * elapsed, at least MinTimedPasses: passes keep getting faster for a
    * while as the JIT warms, and the median of five lands past the steep
    * part. With tracing on, timed passes alternate untraced and traced. */
  def passes(spark: SparkSession, dir: String, es: Seq[Entry], seed: Long,
      seconds: Int, trace: Trace, onPass: Pass => Unit): Seq[Pass] = {
    def one(i: Int, traced: Boolean): Pass = {
      val order = new scala.util.Random(seed * 1000003L + i).shuffle(es)
      if (traced) trace.start()
      val t0 = System.nanoTime()
      val timed = trace.span("pass", "catalog")(order.map(run(spark, dir, _, trace)))
      val p = Pass(System.nanoTime() - t0, timed, traced)
      if (traced) trace.stop()
      onPass(p)
      p
    }
    one(0, traced = false)
    val timed = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (timed.length < MinTimedPasses || System.nanoTime() < deadline)
      timed += one(1 + timed.length, trace.enabled && timed.length % 2 == 1)
    timed.toSeq
  }

  val MinTimedPasses = 5
}

package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: the row count and the sum of a
  * per-row hash over every column. Floating-point values are rounded to
  * float precision first, so a different summation order inside an
  * aggregate cannot change the fingerprint; arrays, structs, maps and ML
  * vectors are normalized element by element.
  *
  * The fingerprint is taken by an observation on the timed plan itself,
  * so checking the result costs no second execution.
  */
object Fingerprint {

  final case class Value(rows: Long, hash: Long)

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(et, _)       => transform(c, x => normalize(x, et))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      normalize(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt),
          StructField("value", vt)))))
    case t if t == SQLDataTypes.VectorType =>
      normalize(vector_to_array(c), ArrayType(DoubleType))
    case _ => c
  }

  /** `df` with positional column names and the fingerprint observation
    * attached; run an action on the result, then read [[value]]. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map(f =>
      normalize(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else hash(cols: _*).cast(LongType)
    renamed.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h), lit(0L)).as("hash"))
  }

  def value(obs: Observation): Value = {
    val m = obs.get
    Value(m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
  }
}

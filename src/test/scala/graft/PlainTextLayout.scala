package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Generations

/** Writes the plain text-index layout that releases before the
  * segmented-only text index saved, so tests can check it still loads:
  * postings (term, id, tf, dl, df) parquet-partitioned by `__bucket`
  * with the document frequency stored on every posting, and one stats
  * row (n_docs, sum_dl, n_buckets, id_col). The generational form
  * stages them under `plain-1` and publishes it through the `_CURRENT`
  * pointer; the legacy flat form writes them at the index root. The
  * `_dels_applied` manifest names delete epochs whose ids `docs`
  * already excludes.
  */
object PlainTextLayout {

  def write(docs: DataFrame, textCol: String, idCol: String, path: String,
      nBuckets: Int, flat: Boolean = false,
      applied: Seq[String] = Nil): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum("tf").as("dl"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val root = if (flat) path else s"$path/plain-1"
    tf.join(dl, idCol).join(df, "term")
      .withColumn("__bucket", pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .write.partitionBy("__bucket").parquet(s"$root/postings")
    val st = dl.agg(count(lit(1)), sum("dl")).collect().head
    Seq((st.getLong(0), st.getLong(1), nBuckets, idCol))
      .toDF("n_docs", "sum_dl", "n_buckets", "id_col")
      .write.parquet(s"$root/stats")
    if (applied.nonEmpty)
      Generations.writeText(s"$root/_dels_applied", applied.mkString("\n"))
    if (!flat) Generations.publish(path, "plain-1")
  }

  /** The stored postings (with their `df` column) of a layout [[write]]
    * wrote. */
  def postings(path: String, flat: Boolean = false): DataFrame =
    TestSpark.spark.read.parquet(
      s"${if (flat) path else s"$path/plain-1"}/postings")
}

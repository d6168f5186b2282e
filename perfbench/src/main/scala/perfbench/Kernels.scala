package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Per-call cost of the `functions/` kernels, measured by calling their
  * public entry points directly on fixture rows (document tokens and
  * embeddings), outside any Spark plan. Each kernel runs a fixed number
  * of calls per round; the first round warms the JIT and the reported
  * value is the median ns per call of the remaining rounds.
  */
object Kernels {

  private val Rounds = 5
  private val CallsPerRound = 20000

  def measure(spark: SparkSession, dir: String): Seq[Stats.Metric] = {
    import spark.implicits._
    val tokens: Array[ArrayData] = graft.engine.Tables.documents(spark, dir)
      .orderBy("doc_id").limit(1000).select("text").as[String].collect()
      .map(t => new GenericArrayData(
        t.split(" ").map(w => UTF8String.fromString(w): Any)))
    val vecs: Array[ArrayData] = graft.engine.Tables.embeddings(spark, dir)
      .orderBy("vec_id").limit(1000).select("embedding").as[Seq[Float]]
      .collect().map(v => ArrayData.toArrayData(v.toArray))
    val dim = vecs.head.numElements()
    val sortedIds: Array[ArrayData] = tokens.map { a =>
      ArrayData.toArrayData((0 until a.numElements())
        .map(i => a.getUTF8String(i).hashCode().toLong).distinct.sorted.toArray)
    }
    val rnd = new scala.util.Random(7L)
    def floats(n: Int) = Array.fill(n)(rnd.nextGaussian().toFloat)

    val planes = floats(4 * 8 * dim)
    val (m, k, sub) = (8, 256, dim / 8)
    val codebook = floats(m * k * sub)
    val codes: Array[ArrayData] = vecs.map(v =>
      PqOps.encode(v, true, codebook, m, k, sub))
    val groups = 8
    val gs = (0 to groups).map(_ * 8).toArray
    val sup = floats(groups * dim)
    val leaves = floats(gs.last * dim)
    val chars: Array[ArrayData] = tokens.map { a =>
      new GenericArrayData((0 until a.numElements())
        .flatMap(i => a.getUTF8String(i).toString.map(c =>
          UTF8String.fromString(c.toString): Any)).toArray)
    }
    val bpe = BpeApply(Literal(null, ArrayType(StringType)),
      Seq("a" -> "t", "e" -> "r", "s" -> "t", "at" -> "a", "o" -> "r",
        "i" -> "n", "l" -> "e", "er" -> "y"))
    val sic = SortedIntersectCount(Literal(null, ArrayType(LongType)),
      Literal(null, ArrayType(LongType)))

    var sink = 0L
    def time(name: String)(call: Int => Any): Seq[Stats.Metric] = {
      val perCall = (1 to Rounds).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < CallsPerRound) {
          if (call(i) != null) sink += 1
          i += 1
        }
        (System.nanoTime() - t0).toDouble / CallsPerRound
      }.drop(1)
      Seq(Stats.Metric(s"kernel.${name}_ns", Stats.median(perCall), "ns"),
        Stats.Metric(s"kernel.${name}_calls",
          (Rounds * CallsPerRound).toDouble, "count"))
    }
    val n = vecs.length
    val results =
      time("dot_f32")(i => DotF32.eval(vecs(i % n), vecs((i * 7 + 1) % n),
        true, true)) ++
      time("minhash_sig")(i => MinHashSig.eval(tokens(i % tokens.length), 64, 42L)) ++
      time("simhash64")(i => SimHash64.eval(tokens(i % tokens.length))) ++
      time("sorted_intersect")(i => sic.count(sortedIds(i % sortedIds.length),
        sortedIds((i * 7 + 1) % sortedIds.length))) ++
      time("sign_buckets")(i => SignBuckets.eval(vecs(i % n), planes, 4, 8,
        dim, true)) ++
      time("pq_adc")(i => PqOps.adc(vecs(i % n), true, codes((i * 7 + 1) % n),
        codebook, m, k, sub)) ++
      time("tree_cells")(i => TreeCells.assign(vecs(i % n), true, sup, leaves,
        gs, dim)) ++
      time("bpe_apply")(i => bpe.applyArr(chars(i % chars.length)))
    require(sink > 0)
    results
  }
}

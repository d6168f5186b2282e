package perfbench

/** Order statistics and the result line the benchmark prints. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1], of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  final case class Metric(name: String, value: Double, unit: String)

  /** The single JSON object the benchmark prints as its last line. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val m = metrics.map { x =>
      require(!x.value.isNaN && !x.value.isInfinite,
        s"metric ${x.name} is not a finite number")
      s""""${x.name}": {"value": ${x.value}, "unit": "${x.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$m}}"""
  }
}

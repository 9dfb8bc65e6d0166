package graftbench

/** Order statistics and the one-line JSON result. */
object Stats {

  /** linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** the highest of these percentiles that leaves at least ten
    * samples beyond it; with fewer than 40 samples none does, and the
    * tail is the maximum (reported as p100). The median is not on the
    * ladder: a tail that could switch to it would jump with the
    * sample count. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75)

  def tail(xs: Seq[Double]): (Double, Double) =
    TailLadder.find(p => xs.size * (100 - p) / 100.0 >= 10) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    java.math.BigDecimal.valueOf(v).toPlainString
  }

  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def resultLine(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }.mkString(", ") +
      "}}"
}

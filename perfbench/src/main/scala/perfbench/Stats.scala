package perfbench

import org.apache.commons.math3.distribution.BetaDistribution

/** Order statistics and the metric record the drivers emit. */
object Stats {

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis estimate of quantile q in (0, 1): a mean of all order
    * statistics weighted by a Beta(q(n+1), (1-q)(n+1)) density. A run
    * holds a few dozen ops of kinds whose costs differ by 10x; a single
    * order statistic jumps between kinds from run to run, this estimate
    * does not. Used for the end-to-end op latencies.
    */
  def hd(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    if (n == 1) s.head
    else {
      val w = new BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => w.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median, or 0 when a layer saw no samples of this kind. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** One named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to `Main`. `notes` carries sample counts
  * and other context that is printed but is not a metric.
  */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[Metric],
                         notes: Seq[(String, String)], errors: Seq[String])

/** Minimal JSON text builders (values are numbers, strings, or already
  * rendered JSON).
  */
object Js {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

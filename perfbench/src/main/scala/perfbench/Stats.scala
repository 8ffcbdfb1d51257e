package perfbench

/** Order statistics for the reported latencies. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The median latency of each operation type, combined over the
    * types as a geometric mean: every type weighs the same, and the
    * figure does not jump from one type's latencies to another's when
    * the median of the whole mix falls between two types.
    */
  def typeMedian(xs: Seq[(String, Double)]): Double = {
    val meds = xs.groupBy(_._1).values.map(v => median(v.map(_._2)))
    Math.exp(meds.map(Math.log).sum / meds.size)
  }

  /** Samples the reported tail must have above it. */
  val TailBeyond = 10

  /** The tail: the highest order statistic with at least [[TailBeyond]]
    * samples above it, returned as (value, percentile, samples beyond).
    * None when there are too few samples for any.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted; val n = s.size
    val k = n - 1 - TailBeyond
    if (k < 0) None
    else Some((s(k), 100.0 * (k + 1) / n, n - 1 - k))
  }

  /** Metric names the driver accepts. */
  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  def validName(n: String): Boolean = NamePattern.matches(n)
}

package servebench

/** Percentiles under the benchmark's reporting rule: a percentile is only
  * reported when at least ten samples lie beyond it, so p99 needs 1000
  * samples and p50 needs 20. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 1) of `xs`, or None when fewer
    * than [[MinBeyond]] samples lie above it. */
  def pctl(xs: Seq[Double], q: Double): Option[Double] = {
    val n = xs.length
    if (n == 0 || n * (1 - q) < MinBeyond - 1e-9) None
    else {
      val s = xs.sorted
      Some(s(math.min(n - 1, math.max(0, math.ceil(q * n).toInt - 1))))
    }
  }

  /** Median with no tail requirement (used for small per-layer samples). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean of positive values: the typical latency of a mix of
    * fast and slow requests. Unlike the median, it does not jump between
    * the mix's groups (HTTP/1.1 and h2c cache hits, say) when a share moves
    * by a few samples. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)

  def ms(nanos: Long): Double = nanos / 1e6
}

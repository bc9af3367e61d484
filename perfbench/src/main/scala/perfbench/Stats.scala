package perfbench

/** Percentiles under the benchmark's reporting rule: a percentile is
  * reported only as "supported" when at least [[MinBeyond]] samples lie
  * beyond it, so a p99 needs 1000 samples and a p90 needs 100.
  */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile (p in (0, 100]) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    sorted(math.max(0, rank(xs.size, p) - 1))
  }

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  def supported(n: Int, p: Double): Boolean = beyond(n, p) >= MinBeyond

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A latency sample set's median and tail percentile `tailP`, as
    * printed beside the result with its sample count and support.
    */
  final case class Summary(n: Int, p50: Double, tailP: Double, tail: Double) {
    def describe(name: String): String =
      if (n == 0) s"$name: no samples"
      else f"$name: n=$n p50=$p50%.3f p${tailP.toInt}=$tail%.3f " +
        s"(${beyond(n, tailP)} samples beyond p${tailP.toInt}" +
        (if (supported(n, tailP)) ")" else s", fewer than $MinBeyond: unsupported)")
  }

  def summary(xs: Seq[Double], tailP: Double): Summary =
    if (xs.isEmpty) Summary(0, Double.NaN, tailP, Double.NaN)
    else Summary(xs.size, median(xs), tailP, percentile(xs, tailP))
}

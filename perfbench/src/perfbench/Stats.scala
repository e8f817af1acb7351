package perfbench

/** Order statistics for the reported timings. Percentiles are
  * nearest-rank: the value at 1-based rank ceil(q·n) of the sorted
  * sample, so every reported figure is one that was measured.
  */
object Stats {

  /** Samples a percentile must leave above it before it is reported as a
    * tail: fewer than this and the "tail" is one or two outliers.
    */
  val MinBeyond = 10

  /** a / b, or 0 when nothing was measured (b = 0). */
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** 1-based nearest rank of quantile `q` in a sample of `n`. */
  def rank(n: Int, q: Double): Int = {
    require(n > 0 && q > 0 && q <= 1, s"rank of q=$q in n=$n")
    // the epsilon keeps q·n that is an integer in exact arithmetic from
    // rounding up through float error (0.9 * 100 = 90.00000000000001)
    math.max(1, math.ceil(q * n - 1e-9).toInt)
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    xs.sorted.apply(rank(xs.length, q) - 1)

  /** Samples strictly above the nearest-rank `q` percentile. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** The highest of `candidates` that leaves at least [[MinBeyond]]
    * samples beyond it in a sample of `n`, or None when even the lowest
    * does not.
    */
  def highestSupported(n: Int,
      candidates: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)): Option[Double] =
    if (n <= 0) None
    else candidates.sorted.reverse.find(q => beyond(n, q) >= MinBeyond)
}

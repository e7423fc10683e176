package graftbench

/** Order statistics for the reported timings. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** The percentiles a tail may be reported at, highest last. */
  val TailLevels: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** A tail figure: the percentile level, its value and the sample count. */
  final case class Tail(level: Double, value: Double, n: Int)

  /** The highest of [[TailLevels]] with at least `beyond` samples above its
    * nearest rank, or None when even the median has fewer.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] =
    TailLevels.filter(p => xs.length - rank(xs.length, p) >= beyond).lastOption
      .map(p => Tail(p, percentile(xs, p), xs.length))
}

package perfbench

/** Percentiles as the benchmark reports them.
  *
  * `pct` is the nearest-rank percentile (the smallest sample with at least
  * p% of the samples at or below it), so every reported value is a value
  * that was actually measured. `tail` applies the reporting rule for
  * tails: of a ladder of percentiles, the highest one that still has at
  * least `minBeyond` samples beyond it, returned with the sample count so a
  * reader can see how much data the tail stands on.
  */
object Stats {

  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50.0)

  /** `pct`, or `none` when there are no samples. */
  def pctOr(xs: Seq[Double], p: Double, none: Double): Double =
    if (xs.isEmpty) none else pct(xs, p)

  /** Samples strictly beyond the nearest-rank p-th percentile position. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  def tail(xs: Seq[Double], minBeyond: Int = 10, ladder: Seq[Double] = Ladder): Option[Tail] =
    ladder.sorted(Ordering[Double].reverse)
      .find(p => beyond(xs.length, p) >= minBeyond)
      .map(p => Tail(p, pct(xs, p), xs.length, beyond(xs.length, p)))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

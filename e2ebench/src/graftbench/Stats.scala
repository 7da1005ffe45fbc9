package graftbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  final case class Tail(percentile: Double, value: Double, samples: Int)

  /** The highest percentile with at least `minBeyond` samples beyond it:
    * the sample that has exactly `minBeyond` samples above it, at
    * percentile 100 × (n − minBeyond) / n. The percentile moves smoothly
    * with the sample count, so runs of slightly different length report
    * comparable tails. Below 2 × `minBeyond` samples no percentile above
    * the median has that many beyond it, and the tail is the median,
    * reported at percentile 50; the value never jumps as the sample
    * count crosses a threshold.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val n = xs.size
    val m = median(xs)
    if (n <= minBeyond) Tail(50.0, m, n)
    else {
      val x = xs.sorted.apply(n - minBeyond - 1)
      if (x > m) Tail(100.0 * (n - minBeyond) / n, x, n) else Tail(50.0, m, n)
    }
  }

  /** Length of the union of half-open intervals `[start, end)`, clipped
    * to `[lo, hi)`. Overlapping intervals are merged first, so the result
    * never exceeds `hi - lo` and a gap derived from it is never negative.
    */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s
        curE = e
        open = true
      } else if (e > curE) curE = e
    }
    if (open) total += curE - curS
    total
  }

  /** Time in `[lo, hi)` during which no interval was running. */
  def gap(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    math.max(0L, hi - lo) - covered(intervals, lo, hi)
}

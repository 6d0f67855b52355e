package graft.perfbench

import java.util.Locale

/** The benchmark's arithmetic, kept free of Spark so the self-test can pin it. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least a `p` share
    * of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples needed so that at least `beyond` of them lie above the
    * nearest-rank `p` percentile (100 for p90, 200 for p95). */
  def minSamples(p: Double, beyond: Int = 10): Int =
    math.ceil(beyond / (1 - p) - 1e-9).toInt

  /** Samples above the nearest-rank `p` percentile of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  /** Length of the union of half-open intervals, clipped to [lo, hi). */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time in [lo, hi) not covered by any interval (e.g. the driver-side gap
    * with no Spark job running). */
  def uncovered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    (hi - lo) - unionLength(intervals, lo, hi)

  /** Locale-independent number text for every figure the benchmark prints. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalArgumentException(s"non-finite metric $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) String.format(Locale.ROOT, "%.1f", Double.box(v))
    else String.format(Locale.ROOT, "%.9g", Double.box(v)).trim
}

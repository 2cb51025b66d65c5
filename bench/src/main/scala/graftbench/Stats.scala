package graftbench

/** The arithmetic the report rests on, kept free of Spark so the
  * self-tests can pin it exactly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length - 1e-9).toInt
    s(math.max(rank, 1) - 1)
  }

  /** Number of samples strictly beyond the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int =
    n - math.max(math.ceil(p / 100.0 * n - 1e-9).toInt, 1)

  val tailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that still has at least `minBeyond`
    * samples beyond it, with its value; None when even the median has
    * fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    tailCandidates.find(p => beyond(xs.length, p) >= minBeyond)
      .map(p => p -> percentile(xs, p))

  /** Length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(children, start, end)
}

package perfbench

/** Order statistics and interval arithmetic used by the harness. */
object Stats {

  /** Nearest-rank index (1-based) of the `p` percentile of `n` samples. */
  def rank(n: Int, p: Double): Int = math.max(1, math.ceil(p * n).toInt)

  /** The percentile rule: a `p` percentile is reported only when at
    * least `minBeyond` samples lie beyond its rank, so a p50 needs 20
    * samples and a p90 needs 100.
    */
  def enoughFor(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    n > 0 && n - rank(n, p) >= minBeyond

  /** Nearest-rank percentile; `None` when the percentile rule fails. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (!enoughFor(xs.size, p)) None
    else Some(xs.sorted.apply(rank(xs.size, p) - 1))

  /** Median with no sample-count rule, for small repeat counts such as
    * the set-ups of one run.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`.
    */
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

  /** Span self time: the span's wall time not covered by any of the
    * Spark jobs it ran (driver-side planning, listing, commit work).
    */
  def selfTime(spanStart: Long, spanEnd: Long,
      jobs: Seq[(Long, Long)]): Long =
    (spanEnd - spanStart) - covered(jobs, spanStart, spanEnd)
}

package perfbench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {
  /** Samples that must lie beyond a reported percentile: a p-th
    * percentile needs `n * (1 - p) >= MinBeyond`, so p50 needs 20
    * samples and p90 needs 100. */
  val MinBeyond = 10

  def supports(n: Int, p: Double): Boolean =
    n * (1.0 - p) >= MinBeyond - 1e-9

  /** Nearest-rank percentile, or None when the sample is too small to
    * have [[MinBeyond]] samples above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || !supports(xs.size, p)) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p * s.size).toInt.max(1)
      Some(s(rank - 1))
    }

  /** Median without the sample-size rule (for repeated set-up timings). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Total length covered by a set of possibly overlapping intervals,
    * each clipped to `[lo, hi]`. Summing overlapping Spark job durations
    * double-counts concurrent jobs; the union does not. */
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .toSeq.sortBy(_._1)
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
}

package perfbench

/** Pure summary statistics and interval arithmetic behind every metric
  * the benchmark reports. Kept free of Spark so the self-test can pin
  * each rule on hand-made inputs. */
object Stats {

  /** Nearest-rank percentile `p` (0..100] of `xs`, capped at the highest
    * percentile that still has at least `minBeyond` samples above it,
    * and never below the median. With 100 samples a p90 is a true p90;
    * with 30 samples it reads the 20th value (10 samples beyond it);
    * under 20 samples it falls back to the median. Returns the value
    * and the percentile actually read. */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val sorted = xs.sorted
    val n = sorted.size
    val median = math.ceil(0.5 * n).toInt
    val wanted = math.ceil(p / 100.0 * n).toInt
    val rank = math.max(median, math.min(wanted, n - minBeyond)).max(1).min(n)
    (sorted(rank - 1), 100.0 * rank / n)
  }

  /** Median as the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean of strictly positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0.0), s"geomean needs positive values, got $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `within` covered by the union of `iv`, each clipped to it. */
  def coveredWithin(within: (Long, Long), iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (s, e) => (math.max(s, within._1), math.min(e, within._2)) })

  /** Self time of a span: its duration minus the part of its interval
    * that its child spans cover (overlapping children count once). */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long =
    (span._2 - span._1) - coveredWithin(span, children)
}

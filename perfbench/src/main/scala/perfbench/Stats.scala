package perfbench

/** Order statistics the benchmark reports. Pure functions, unit-tested in
  * StatsSpec. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail a run can actually support: the highest percentile that still
    * has at least `beyond` samples strictly above its rank. With n sorted
    * samples that is the (beyond+1)-th largest value, at percentile
    * 100 * (n - beyond) / n. None when n <= beyond: no such percentile. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, n))
    }
  }

  /** Total length covered by the union of closed intervals `(start, end)`:
    * overlapping and nested intervals count once. Intervals with
    * end < start are empty. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (a, b) => b >= a }.sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (curEnd == Long.MinValue || a > curEnd) {
        if (curEnd != Long.MinValue) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd != Long.MinValue) total += curEnd - curStart
    total
  }
}

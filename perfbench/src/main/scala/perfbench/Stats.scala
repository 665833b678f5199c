package perfbench

/** Order statistics for op latencies. Percentiles are nearest-rank: the
  * p-th percentile of n samples is the ceil(p/100 · n)-th smallest. */
object Stats {

  /** ceil(p/100 · n) in integer arithmetic, p taken to 0.1: in doubles
    * 99.9/100 · 10000 is a hair above 9990 and would round up. */
  def rank(p: Double, n: Int): Int = ((math.round(p * 10) * n + 999) / 1000).toInt

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length, math.max(1, rank(p, s.length))) - 1)
  }

  /** The median as a midpoint of the middle pair, so that an even sample
    * does not read as one of its two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Tail percentiles tried, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)
  /** Samples a tail percentile must have strictly beyond its rank. */
  val TailSupport = 10

  final case class Tail(percentile: Double, value: Double, n: Int, beyond: Int)

  /** The highest ladder percentile that leaves at least `TailSupport`
    * samples beyond its rank; None when the sample supports nothing above
    * the median. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    TailLadder.iterator.map(p => (p, rank(p, n), n - rank(p, n)))
      .collectFirst { case (p, r, beyond) if r >= 1 && beyond >= TailSupport =>
      Tail(p, percentile(xs, p), n, beyond)
    }
  }
}

package graftbench

/** Order statistics used by every report. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it.
    */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rankIndex(sorted.size, p))

  private def rankIndex(n: Int, p: Double): Int =
    math.max(0, math.ceil(p / 100.0 * n - 1e-9).toInt - 1)

  /** Percentile levels the tail rule considers, highest first. */
  val TailLevels: Seq[Double] =
    Seq(99.99, 99.9) ++ (99 to 1 by -1).map(_.toDouble)

  /** The tail of a latency sample: the highest percentile in
    * [[TailLevels]] that still has at least `beyond` samples strictly
    * above it. Returns (percentile, value); None when even the 1st
    * percentile has fewer than `beyond` samples above it.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted.toIndexedSeq
    TailLevels.iterator.map { p =>
      val v = percentile(s, p)
      (p, v, s.count(_ > v))
    }.collectFirst { case (p, v, above) if s.nonEmpty && above >= beyond => (p, v) }
  }
}

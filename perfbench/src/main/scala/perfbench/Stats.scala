package perfbench

/** Order statistics used by every workload. */
object Stats {
  def median(xs: scala.collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: scala.collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least `beyond` samples above it, as
    * (percentile, value). Below 2·beyond + 1 samples that percentile would not
    * lie above the median, so the median is reported instead. */
  def tail(xs: scala.collection.Seq[Double], beyond: Int = 10): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 2 * beyond + 1) (50.0, median(s))
    else {
      val i = s.size - beyond - 1
      (100.0 * (i + 1) / s.size, s(i))
    }
  }
}

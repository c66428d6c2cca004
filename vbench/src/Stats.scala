package vbench

object Stats {

  /** The `p`-th percentile (0..100) by linear interpolation between
    * order statistics; `xs` must be non-empty. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Interquartile mean: the mean of the middle half of the samples,
    * after dropping a quarter (rounded to nearest) from each end. It
    * ignores a stray slow op as the median does, but averages over more
    * samples. */
  def iqm(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "iqm of no samples")
    val s = xs.sorted
    val cut = (s.length + 1) / 4
    val mid = s.slice(cut, s.length - cut)
    mid.sum / mid.length
  }

  /** Geometric mean of positive samples: every sample's relative change
    * moves it by the same share, whatever the sample's size. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Tail percentiles a run may report, highest first. */
  val Tails: Seq[Double] = Seq(99.9, 99, 90)

  /** The highest tail percentile with at least ten of `n` samples
    * beyond it, if any. */
  def tail(n: Int): Option[Double] =
    Tails.find(p => n * (100 - p) / 100 >= 10 - 1e-9)
}

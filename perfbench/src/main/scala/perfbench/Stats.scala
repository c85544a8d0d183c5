package perfbench

/** The benchmark's own arithmetic: orderings, medians, tails, failure share. */
object Stats {

  /** Order of the operations in pass `pass` of a run with workload seed
    * `seed`: a deterministic shuffle, so one seed always replays the same
    * order and different seeds give different orders. */
  def permutation[T](items: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `inclusive` method of Python's
    * `statistics.quantiles`). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples lying strictly beyond the q-quantile of `n` samples. */
  def beyond(n: Int, q: Double): Int = n - 1 - math.floor(q * (n - 1)).toInt

  /** The reportable quantiles of n samples: the median and the highest of
    * p75/p90/p95/p99, each only if at least `tail` samples lie beyond it. */
  def supported(n: Int, tail: Int = 10): Seq[Double] = {
    val ok = (q: Double) => n > 0 && beyond(n, q) >= tail
    Seq(0.5).filter(ok) ++ Seq(0.99, 0.95, 0.9, 0.75).find(ok).toSeq
  }

  /** Failed ÷ attempted; a run that attempted nothing is entirely failed. */
  def failFrac(attempted: Int, failed: Int): Double =
    if (attempted <= 0) 1.0 else failed.toDouble / attempted
}

package lakebench

/** The harness's own statistics. Every reported timing is a median or a
  * tail percentile over many samples of one run; these helpers are the
  * only place those numbers are computed, and StatsSpec pins them.
  */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of unsorted samples,
    * the same rule as numpy's default and Python's `statistics.quantiles`
    * with `method="inclusive"`.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted.toIndexedSeq
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail metric may report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest candidate percentile that has at least `minBeyond`
    * samples strictly above its rank: with n samples, percentile p has
    * n * (100 - p) / 100 samples beyond it. Falls back to the median.
    */
  def tailPercentileOf(n: Int, minBeyond: Int = 10): Double =
    TailCandidates.find(p => n * (100.0 - p) / 100.0 >= minBeyond).getOrElse(50.0)

  /** (percentile used, value) of the tail rule above. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double) = {
    val p = tailPercentileOf(xs.size, minBeyond)
    (p, percentile(xs, p))
  }

  /** Open-loop lateness: each item is timed from when it was DUE, so a
    * stall that delays later sends is billed to every item it delayed.
    * Returns (latency of each item = done - due, sender lateness of each
    * item = sent - due), all in the units given.
    */
  def openLoop(due: Seq[Double], sent: Seq[Double], done: Seq[Double]): (Seq[Double], Seq[Double]) = {
    require(due.size == sent.size && due.size == done.size, "open-loop arrays differ in length")
    (due.indices.map(i => done(i) - due(i)), due.indices.map(i => sent(i) - due(i)))
  }
}

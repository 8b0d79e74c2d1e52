package graft.perfbench

/** Percentiles and the sample-count rule the report follows: a named
  * percentile is only quoted when at least [[MinBeyond]] samples lie
  * beyond it. */
object Stats {
  val MinBeyond = 10

  /** Linear-interpolated percentile of `values` at `q` in [0, 1]
    * (numpy's default method). NaN for no samples. */
  def percentile(values: Seq[Double], q: Double): Double = {
    require(q >= 0 && q <= 1, s"percentile $q outside [0, 1]")
    if (values.isEmpty) return Double.NaN
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 0.5)

  /** Samples strictly above the interpolation position of `q`. */
  def samplesBeyond(n: Int, q: Double): Int =
    if (n == 0) 0 else n - 1 - math.floor(q * (n - 1)).toInt

  def supported(n: Int, q: Double): Boolean = samplesBeyond(n, q) >= MinBeyond

  /** Smallest sample count at which `q` is supported. */
  def samplesNeeded(q: Double): Int =
    Iterator.from(1).find(supported(_, q)).get

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) Double.NaN else values.sum / values.length
}

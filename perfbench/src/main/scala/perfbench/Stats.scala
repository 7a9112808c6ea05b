package perfbench

/** Sample summaries. Percentiles interpolate linearly between order
  * statistics; each summary states its sample count. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Median for a per-layer metric: a layer with no samples (not reached
    * by the workload) reads 0. */
  def layerMedian(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** `name_p50`, `name_p90` and `name_n` of a sample. */
  def summary(name: String, xs: Seq[Double]): Seq[(String, Any)] =
    Seq(s"${name}_p50" -> pct(xs, 50), s"${name}_p90" -> pct(xs, 90),
      s"${name}_n" -> xs.length)

  def sinceMs(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time `f` in milliseconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, sinceMs(t0))
  }
}

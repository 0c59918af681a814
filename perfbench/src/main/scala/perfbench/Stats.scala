package perfbench

/** Order statistics and the task-shape ratios the report derives from
  * Spark task timings. Pure, so the self-tests pin them on fixed inputs.
  */
object Stats {
  /** Linear-interpolated quantile between the closest ranks (the rule of
    * numpy's default and of Python's `statistics.quantiles(method =
    * "inclusive")`), `q` in [0, 1].
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Task skew: the slowest task over the median task (0 without tasks). */
  def skew(taskSeconds: Seq[Double]): Double =
    if (taskSeconds.isEmpty) 0.0
    else {
      val m = median(taskSeconds)
      if (m > 0) taskSeconds.max / m else 0.0
    }

  /** Share of the cores' time a job left unused:
    * 1 − Σ task time ÷ (wall × cores), clamped to [0, 1].
    */
  def idleFrac(taskSeconds: Seq[Double], wallSeconds: Double, cores: Int): Double =
    if (wallSeconds <= 0 || cores <= 0) 0.0
    else math.min(1.0, math.max(0.0, 1.0 - taskSeconds.sum / (wallSeconds * cores)))

  /** Length of `[start, end)` not covered by the union of `children`
    * (clipped to the interval): a span's self time.
    */
  def uncovered(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val iv = children.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE != Long.MinValue) covered += curE - curS
    (end - start) - covered
  }
}

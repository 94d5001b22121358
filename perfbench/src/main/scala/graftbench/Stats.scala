package graftbench

/** Order statistics used by every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Share of the run's task slots that tasks kept busy: summed task time
    * over wall time times cores. */
  def slotBusy(taskMs: Double, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0) 0.0 else taskMs / (wallMs * cores)

  /** A tail reading: `value` is the nearest-rank `percentile` of `samples`
    * observations. */
  final case class Tail(percentile: Double, value: Double, samples: Int) {
    def describe: String =
      f"p$percentile%.1f of $samples samples" +
        (if (samples < MinSamples) s" (fewer than $MinSamples, so the maximum)" else "")
  }

  val MinBeyond = 10
  /** Below this many samples the rule would pick a percentile under the
    * median. */
  val MinSamples: Int = 2 * MinBeyond + 1

  /** The highest nearest-rank percentile that still has at least
    * [[MinBeyond]] samples beyond it: the sample at sorted index
    * n - 1 - MinBeyond. With fewer than [[MinSamples]] samples that
    * percentile would fall below the median, so the maximum is reported. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val k = if (n >= MinSamples) n - 1 - MinBeyond else n - 1
    Tail(100.0 * (k + 1) / n, s(k), n)
  }
}

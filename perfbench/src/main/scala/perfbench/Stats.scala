package perfbench

/** Measurement rules shared by every workload. Pure, so the benchmark's
  * own tests pin them. */
object Stats {

  /** Samples a percentile needs beyond it before it is reported. */
  val MinBeyond = 10

  /** A reported percentile with the number of samples it came from. */
  final case class Pct(value: Double, n: Int)

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, reported only when
    * at least [[MinBeyond]] samples lie above its rank: a p99 needs 1,000
    * samples, a p90 100 and a median 20. Fewer samples give None. */
  def percentile(xs: Seq[Double], p: Double): Option[Pct] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val rank = math.ceil(p * n).toInt // 1-based nearest rank
    if (n == 0 || n - rank < MinBeyond) None
    else Some(Pct(xs.sorted.apply(rank - 1), n))
  }

  /** The plain median (no tail rule): used where a value is summarised
    * across a few repeats, not reported as a latency percentile. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Total length covered by a set of [start, end) intervals: overlapping
    * jobs (AQE runs several at once) count once, where a plain sum of job
    * durations double-counts them. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Part of [from, to) covered by the given intervals. */
  def coveredWithin(intervals: Seq[(Long, Long)], from: Long, to: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) })

  /** Due times of an open loop at `rate` requests per second for
    * `seconds`, evenly spaced from `startNs`. */
  def schedule(startNs: Long, rate: Double, seconds: Double): IndexedSeq[Long] = {
    require(rate > 0 && seconds > 0)
    val n = math.max(1, math.round(rate * seconds).toInt)
    val gap = 1e9 / rate
    (0 until n).map(i => startNs + math.round(i * gap))
  }
}

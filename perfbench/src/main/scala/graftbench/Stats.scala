package graftbench

/** The benchmark's own arithmetic: percentiles, job-interval unions,
  * byte totals and the attribution of listener events to operations.
  * Pure functions, so the self-tests can pin them without Spark. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`
    * percent of the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Whether percentile `p` of `n` samples has at least `minBeyond`
    * samples beyond it — the rule a reported tail percentile obeys. */
  def supported(n: Int, p: Double, minBeyond: Int = 10): Boolean =
    n > 0 && beyond(n, p) >= minBeyond

  /** Length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- sorted) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Intervals clipped to a window; those outside it vanish. */
  def clip(intervals: Seq[(Long, Long)], from: Long, to: Long)
      : Seq[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }

  /** Driver gap of an operation: its wall time minus the part of it
    * covered by at least one Spark job. */
  def driverGap(opStart: Long, opEnd: Long, jobs: Seq[(Long, Long)])
      : Long =
    (opEnd - opStart) - unionLength(clip(jobs, opStart, opEnd))

  def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  /** Output bytes per input byte; 0 when nothing was read. */
  def ratio(num: Double, den: Double): Double =
    if (den <= 0) 0.0 else num / den

  /** One operation of a run: an id, a wall interval in epoch ms, and
    * an optional tag that listener events may carry to claim it. */
  final case class Op(id: Int, start: Long, end: Long,
      tag: Option[String] = None)

  /** Attributes an event to an operation. An event whose tag names an
    * operation belongs to it; an untagged event (or one whose tag is
    * unknown) belongs to the operation whose interval holds `time`,
    * the last such when intervals touch. None when no operation does. */
  def attribute(ops: Seq[Op], tag: Option[String], time: Long)
      : Option[Int] = {
    val byTag = tag.flatMap(t => ops.find(_.tag.contains(t)))
    byTag.map(_.id).orElse(
      ops.filter(o => time >= o.start && time <= o.end)
        .sortBy(_.start).lastOption.map(_.id))
  }
}

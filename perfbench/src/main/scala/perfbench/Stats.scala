package perfbench

import org.json4s._

/** Order statistics and interval arithmetic shared by the workloads and the tracer. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, rank(s.length, p) - 1))
  }

  private def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** Samples that lie strictly beyond the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val StandardPercentiles: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest standard percentile that still has at least `minBeyond`
    * samples beyond it, so a tail figure never rests on a handful of points;
    * None when even the median has fewer. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    StandardPercentiles.filter(p => beyond(n, p) >= minBeyond).lastOption

  /** Median and the rule's tail percentile of `xs`, with the sample count. */
  final case class Summary(n: Int, p50: Double, tailP: Option[Double], tail: Option[Double]) {
    def json: JValue = JObject(List("n" -> JInt(n), "p50" -> Report.num(p50)) ++
      tailP.zip(tail).toList.flatMap { case (p, v) => List("tail_percentile" -> JDouble(p), "tail" -> Report.num(v)) })
  }

  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.length)
    Summary(xs.length, median(xs), tp, tp.map(p => percentile(xs, p)))
  }

  /** Total length covered by the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `intervals` cut to the window `[lo, hi)`. */
  def clip(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Iterable[(Long, Long)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(start: Long, end: Long, children: Iterable[(Long, Long)]): Long =
    (end - start) - unionLength(clip(children, start, end))
}

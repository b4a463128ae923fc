package graft.perfbench

/** The benchmark's own arithmetic, free of Spark so that it can be tested
  * on hand-made intervals. Interval times are milliseconds since the epoch,
  * the clock Spark's listener events use. */
object BenchMath {

  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  def overlap(a: Interval, b: Interval): Double =
    math.max(0.0, math.min(a.end, b.end) - math.max(a.start, b.start))

  /** Length of the union of `xs` clipped to `within`: overlapping intervals
    * count once. */
  def covered(within: Interval, xs: Seq[Interval]): Double = {
    val clipped = xs
      .map(x => Interval(math.max(x.start, within.start),
        math.min(x.end, within.end)))
      .filter(x => x.end > x.start)
      .sortBy(_.start)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { x =>
      if (curEnd.isNaN || x.start > curEnd) {
        if (!curEnd.isNaN) total += curEnd - curStart
        curStart = x.start
        curEnd = x.end
      } else curEnd = math.max(curEnd, x.end)
    }
    if (!curEnd.isNaN) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the part its children cover.
    * Children that overlap each other are counted once, and the parts of a
    * child outside the span are ignored. */
  def selfTime(span: Interval, children: Seq[Interval]): Double =
    span.length - covered(span, children)

  /** Core time the spans offered that no task used: the spans' total length
    * times `cores`, minus the task time that falls inside the spans. */
  def coreIdle(spans: Seq[Interval], tasks: Seq[Interval],
               cores: Int): Double =
    spans.map(_.length).sum * cores -
      tasks.map(t => spans.map(s => overlap(t, s)).sum).sum

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p outside (0, 100]")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.length).toInt - 1))
  }

  /** The highest of `candidates` that leaves at least `tail` of `n` samples
    * above it, so that a reported percentile rests on that many samples
    * beyond it; None when even the lowest candidate does not. */
  def reportablePercentile(n: Int,
                           candidates: Seq[Double] = Seq(50, 80, 90, 95, 99),
                           tail: Int = 10): Option[Double] =
    candidates.filter(p => n * (100 - p) / 100 >= tail - 1e-9).maxOption
}

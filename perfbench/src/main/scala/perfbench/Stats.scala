package perfbench

/** The benchmark's own arithmetic: percentiles, the seeded query order and
  * span self time. Pure functions, pinned by `StatsSpec`.
  */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of a non-empty sample,
    * the "inclusive" rule of numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`.
    */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(q >= 0 && q <= 1, s"percentile rank $q outside [0, 1]")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the `q` percentile: a percentile is reported
    * only when at least `MinBeyond` samples lie beyond it.
    */
  val MinBeyond = 10

  def beyond(xs: Seq[Double], q: Double): Int = {
    val p = percentile(xs, q)
    xs.count(_ > p)
  }

  /** The `q` percentile if the sample holds at least [[MinBeyond]]
    * executions beyond it, else None.
    */
  def supportedPercentile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.nonEmpty && beyond(xs, q) >= MinBeyond) Some(percentile(xs, q)) else None

  /** Query order of one pass: a permutation fixed by (seed, pass). */
  def passOrder(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  /** A traced interval: `parent` is the id of the span that caused it. */
  final case class Span(id: Int, parent: Int, kind: String, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of every span under `rootId`, in ns.
    *
    * Children are clipped to their parent's interval. Each instant of the
    * root's interval is charged to the deepest spans active at that
    * instant; when several are active at the same depth (concurrent jobs or
    * stages) the instant is split equally among them. The self times of
    * the spans under a root therefore sum exactly to the root's duration,
    * and a span with no children gets its clipped duration only where no
    * sibling overlaps it.
    */
  def selfTimes(spans: Seq[Span], rootId: Int): Map[Int, Double] = {
    val byParent = spans.groupBy(_.parent)
    val root = spans.find(_.id == rootId).getOrElse(sys.error(s"no span $rootId"))
    // Clip every descendant to its parent's (already clipped) interval.
    val clipped = scala.collection.mutable.ArrayBuffer.empty[(Span, Int)] // (span, depth)
    def walk(s: Span, depth: Int): Unit = {
      clipped += ((s, depth))
      byParent.getOrElse(s.id, Nil).foreach { c =>
        val lo = math.max(c.startNs, s.startNs)
        val hi = math.min(c.endNs, s.endNs)
        if (hi > lo) walk(c.copy(startNs = lo, endNs = hi), depth + 1)
      }
    }
    walk(root, 0)
    val cuts = clipped.flatMap { case (s, _) => Seq(s.startNs, s.endNs) }.distinct.sorted
    val self = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = clipped.filter { case (s, _) => s.startNs <= a && s.endNs >= b }
      val deepest = active.map(_._2).max
      val leaves = active.filter(_._2 == deepest)
      leaves.foreach { case (s, _) => self(s.id) += (b - a).toDouble / leaves.size }
    }
    clipped.map { case (s, _) => s.id -> self(s.id) }.toMap
  }
}

package etlbench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests
  * can pin it directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile that still has at least `beyond` samples
    * above it (nearest rank). Returns (percentile, value), or None when
    * the sample is too small for any percentile to qualify. With `n`
    * sorted samples the value at 0-based rank `k` has `n - 1 - k`
    * samples beyond it, so the qualifying rank is `n - 1 - beyond`; its
    * percentile is the share of samples at or below it, floored. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    val k = n - 1 - beyond
    if (k < 0) None
    else Some(((k + 1) * 100 / n, xs.sorted.apply(k)))
  }

  /** A time interval `[start, end)` in nanoseconds. */
  final case class Interval(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Total length covered by a set of possibly overlapping intervals,
    * after clipping each to `within`. */
  def unionLength(xs: Seq[Interval], within: Interval): Long = {
    val clipped = xs.map(i => Interval(math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter(i => i.end > i.start).sortBy(_.start)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { i =>
      if (i.start > curE) {
        if (curE > curS) total += curE - curS
        curS = i.start; curE = i.end
      } else curE = math.max(curE, i.end)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One traced span. `parent` is -1 for a root. Spans of `layer`
    * [[Overlapping]] (scheduler stages) may overlap their siblings;
    * every other layer nests strictly. */
  final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                        start: Long, end: Long) {
    def interval: Interval = Interval(start, end)
  }
  val Overlapping = "stage"

  /** Self time per layer, in nanoseconds: each span's duration minus the
    * part of it that its children cover. Overlapping children (stages
    * running side by side) are credited once, as the union they cover
    * under their parent, so the layer totals add up to the roots' wall
    * time exactly. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val byParent = spans.groupBy(_.parent)
    val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    spans.foreach { s =>
      val kids = byParent.getOrElse(s.id, Nil)
      if (s.layer != Overlapping)
        acc(s.layer) += s.interval.length - unionLength(kids.map(_.interval), s.interval)
      val stages = kids.filter(_.layer == Overlapping)
      if (stages.nonEmpty) acc(Overlapping) += unionLength(stages.map(_.interval), s.interval)
    }
    acc.toMap
  }

  /** Counts RDD block writes and refills. A refill is a write of a block
    * id that was already written within the same operation: a persisted
    * frame computed twice because two consumers raced to fill it.
    * Events are `(operation id, block id)` in arrival order. */
  final case class Refills(written: Long, refilled: Long) {
    def ratio: Double = if (written == 0) 0.0 else refilled.toDouble / written
  }
  def refills(events: Seq[(Int, String)]): Refills = {
    val seen = scala.collection.mutable.Set[(Int, String)]()
    var refilled = 0L
    events.foreach { e => if (!seen.add(e)) refilled += 1 }
    Refills(events.size.toLong, refilled)
  }
}

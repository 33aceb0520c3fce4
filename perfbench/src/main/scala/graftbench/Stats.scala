package graftbench

/** Order statistics over latency samples. */
object Stats {

  /** Percentile levels the report may use, highest first. */
  val Levels: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10

  /** Linear-interpolated quantile `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest level in [[Levels]] with at least [[MinBeyond]] of `n`
    * samples beyond it, if any. */
  def tailLevel(n: Int): Option[Int] =
    Levels.find(p => n * (100 - p) >= MinBeyond * 100)

  /** `prefix_pNN_unit -> value` for the median and, when one exists, the
    * highest tail level above it with enough samples beyond it. A level
    * without them is never printed: [[percentile]] refuses it. */
  def percentiles(prefix: String, unit: String, xs: Seq[Double]): Seq[(String, Double)] =
    (s"${prefix}_p50_$unit" -> median(xs)) +:
      tailLevel(xs.size).filter(_ > 50).toSeq
        .map(p => s"${prefix}_p${p}_$unit" -> percentile(xs, p))

  /** Percentile `p` of `xs`; throws unless [[MinBeyond]] samples lie
    * beyond it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.size * (100 - p) >= MinBeyond * 100,
      s"p$p needs ${MinBeyond * 100 / (100 - p)} samples, have ${xs.size}")
    quantile(xs, p / 100.0)
  }

  /** Length of the union of `[start, end]` intervals clipped to `[lo, hi]`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

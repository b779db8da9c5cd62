package perfbench

/** Percentiles, interval arithmetic and metric-name rules. */
object Stats {

  /** Linear-interpolated percentile (p in [0, 100]) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of `candidates` that leaves at least ten samples above
    * it, or None when even the median does not. */
  def reportablePercentile(n: Int, candidates: Seq[Double] = Seq(99, 95, 90, 75, 50)): Option[Double] =
    candidates.sorted.reverse.find(p => n - math.ceil(n * p / 100.0) >= 10)

  /** Total length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Metric names: a letter or digit first, then letters, digits, `_`, `.`
    * and `-`, at most 64 characters. */
  private val NameRe = "^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$".r
  def validName(name: String): Boolean = NameRe.matches(name)

  private val UnitRe = "^[A-Za-z0-9_/%.-]{1,16}$".r
  def validUnit(unit: String): Boolean = UnitRe.matches(unit)

  /** JSON number with every digit the double carries. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalArgumentException(s"non-finite metric $x")
    else java.lang.Double.toString(x).replace("E", "e")

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}

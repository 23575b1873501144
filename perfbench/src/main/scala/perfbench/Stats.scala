package perfbench

object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** A reported metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload run hands back to [[Main]]. */
final case class RunResult(
    attempted: Long,
    failed: Long,
    mismatches: Seq[String],
    endToEnd: Seq[(String, Metric)],
    perLayer: Seq[(String, Metric)],
    detail: Seq[(String, Metric)])

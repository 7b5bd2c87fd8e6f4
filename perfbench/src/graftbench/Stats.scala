package graftbench

/** Percentiles, metric records and the JSON the run prints. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** Samples strictly above the reported percentile value's rank. */
  def beyond(n: Int, p: Double): Int = n - math.min(math.max(math.ceil(p / 100.0 * n).toInt, 1), n)

  /** The tail percentile is only reported when at least ten samples lie
    * beyond it; fewer is a benchmark defect, not a measurement. */
  def tail(xs: Seq[Double], p: Double): Double = {
    val b = beyond(xs.length, p)
    require(b >= 10, f"p$p%.0f of ${xs.length} samples has only $b beyond it (need 10)")
    percentile(xs, p)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** One reported number: value, unit, and how many samples produced it. */
  final case class Metric(value: Double, unit: String, n: Int, note: String = "")

  def jsonNum(x: Double): String =
    if (x.isNaN || x.isInfinite) throw new IllegalArgumentException(s"non-finite metric $x")
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else java.lang.Double.toString(x)

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (k, m) => s"${jsonStr(k)}: {\"value\": ${jsonNum(m.value)}, \"unit\": ${jsonStr(m.unit)}}" }
      .mkString("{", ", ", "}")
}

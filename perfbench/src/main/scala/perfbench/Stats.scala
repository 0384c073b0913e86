package perfbench

/** Order statistics and the result-line format. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples needed beyond a reported percentile. */
  val MinBeyond = 10

  /** The nearest-rank `q`-quantile of `xs`, or None when fewer than
    * [[MinBeyond]] samples lie beyond it: a p90 from 20 samples rests on
    * two values and says nothing about the tail. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile $q outside (0, 1)")
    val n = xs.length
    val rank = math.ceil(q * n).toInt
    if (n == 0 || n - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  /** `{"name": {"value": v, "unit": u}, ...}` in the given order. */
  def metricsJson(metrics: Seq[Metric]): String =
    metrics.map(m => s"${jsonString(m.name)}: {\"value\": " +
      s"${jsonNumber(m.value)}, \"unit\": ${jsonString(m.unit)}}")
      .mkString("{", ", ", "}")

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[Metric]): String =
    s"{\"correct\": $correct, \"attempted\": $attempted, " +
      s"\"failed\": $failed, \"metrics\": ${metricsJson(metrics)}}"
}

final case class Metric(name: String, value: Double, unit: String)

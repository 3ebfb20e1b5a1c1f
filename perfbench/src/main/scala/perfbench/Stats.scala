package perfbench

/** Summary statistics and metric bookkeeping shared by every workload. */
object Stats {

  /** Lower median of a non-empty sample (the middle value, or the mean
    * of the two middle values).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  def validName(name: String): Boolean = name.matches(NamePattern)

  /** One reported number with its unit. */
  final case class Metric(value: Double, unit: String)

  /** Renders the result line: `{"correct":…,"attempted":…,"failed":…,
    * "metrics":{name:{"value":…,"unit":…}}}`. Non-finite values are a
    * bug in the caller, so they are refused rather than printed.
    */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Metric)]): String = {
    metrics.foreach { case (k, m) =>
      require(validName(k), s"bad metric name $k")
      require(!m.value.isNaN && !m.value.isInfinite, s"metric $k is ${m.value}")
    }
    val body = metrics.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$body}}"""
  }

  /** Full-precision decimal rendering (no exponent, no locale). */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}

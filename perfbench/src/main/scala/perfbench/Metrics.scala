package perfbench

/** A named measurement as printed on the result line. */
final case class Metric(name: String, value: Double, unit: String)

object Metrics {
  val MaxEndToEnd = 16
  val MaxPerLayer = 128
  private val Name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
  private val Unit = "[A-Za-z0-9_/%.-]{1,16}".r

  /** Problems with a metric set, empty when it is valid: names made of
    * `[A-Za-z0-9_.-]` (starting with a letter or digit, at most 64 long),
    * used once, units of at most 16 characters, finite values, and at most
    * `max` metrics.
    */
  def problems(ms: Seq[Metric], max: Int): Seq[String] = {
    val dup = ms.groupBy(_.name).collect { case (n, xs) if xs.size > 1 => s"duplicate metric $n" }
    val bad = ms.flatMap { m =>
      Seq(
        Option.when(!Name.matches(m.name))(s"bad metric name '${m.name}'"),
        Option.when(!Unit.matches(m.unit))(s"bad unit '${m.unit}' for ${m.name}"),
        Option.when(m.value.isNaN || m.value.isInfinite)(s"${m.name} is not finite")
      ).flatten
    }
    val tooMany = Option.when(ms.size > max)(s"${ms.size} metrics, at most $max allowed")
    (dup ++ bad ++ tooMany).toSeq
  }

  /** The result line: `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")

  /** Full-precision JSON number. */
  def num(x: Double): String =
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A flat JSON object from already-encoded values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

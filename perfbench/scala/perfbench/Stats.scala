package perfbench

import scala.collection.mutable.ArrayBuffer

/** Latency samples of one operation kind, in seconds. */
final class Samples {
  val values = ArrayBuffer[Double]()
  def +=(s: Double): Unit = values += s
  def n: Int = values.size
  private def sorted = values.sorted

  def p50: Double =
    if (values.isEmpty) 0.0
    else {
      val s = sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile). That percentile is above the median only from
    * 21 samples on; below that the median stands in (percentile 50). */
  def tail: (Double, Double) = {
    val s = sorted
    val pct = if (s.isEmpty) 0.0 else 100.0 * (s.size - 10) / s.size
    if (pct <= 50.0) (p50, 50.0) else (s(s.size - 11), pct)
  }
}

/** Minimal JSON rendering for the result line (no library dependency). */
object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value not finite: $v")
    v.toString
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
}

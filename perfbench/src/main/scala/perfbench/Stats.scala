package perfbench

import scala.collection.mutable

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)

  /** Total length covered by a set of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** What one run reports: named metrics with units, operation counts and the
  * outcome of the output checks. Checks that fail are kept as messages. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val meta = mutable.LinkedHashMap.empty[String, String]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def toJson: String = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
    val md = meta.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    val pr = problems.map(str).mkString("[", ", ", "]")
    s"""{"correct": ${problems.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": $m, "meta": $md, "problems": $pr}"""
  }
}

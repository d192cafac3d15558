package perfbench

/** Order statistics with the same conventions as Python's `statistics`
  * module (median; `quantiles(n=4)` with the default exclusive method),
  * so in-run figures match what a reader recomputes from the raw values.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "median of no values")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q2, q3); a single value is its own quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 1) return (s(0), s(0), s(0))
    def q(i: Int): Double = {
      val m = i * (n + 1)
      val j = math.min(math.max(m / 4, 1), n - 1)
      val delta = m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4
    }
    (q(1), q(2), q(3))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

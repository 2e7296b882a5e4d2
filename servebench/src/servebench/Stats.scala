package servebench

/** Order statistics over latency samples. */
object Stats {

  /** Nearest-rank percentile (q in (0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank q-th percentile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  /** The q-th percentile, only when at least 10 samples lie beyond it
    * (a tail read from fewer samples is noise, not a tail). */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, q) >= 10) Some(percentile(xs, q)) else None
}

/** Minimal JSON rendering for the result line and the span dump. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

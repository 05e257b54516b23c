package perfbench

/** Summary statistics of the benchmark's timings. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Whether `n` samples support the `p`-th percentile: at least ten of
    * them must lie beyond it.
    */
  def supports(n: Int, p: Double): Boolean = n - math.ceil(n * p / 100.0 - 1e-9) >= 10

  /** Nearest-rank `p`-th percentile, or None when the sample is too small
    * to support it (see [[supports]]).
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (!supports(xs.length, p)) None
    else {
      val s = xs.sorted
      Some(s(math.max(0, math.ceil(s.length * p / 100.0 - 1e-9).toInt - 1)))
    }
}

/** Minimal JSON writer for the run artifact (numbers, strings, booleans,
  * sequences and string-keyed maps).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

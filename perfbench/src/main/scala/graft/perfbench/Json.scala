package graft.perfbench

/** Minimal JSON encoding for the result file and the span dump. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null                  => "null"
    case s: String             => str(s)
    case b: Boolean            => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double             => d.toString
    case f: Float              => value(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: Map[_, _]          => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_]       => xs.map(value).mkString("[", ",", "]")
    case other                 => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Percentile by linear interpolation between closest ranks (the
    * default of numpy and of Python's statistics.quantiles inclusive). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

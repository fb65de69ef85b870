package graft.perfbench

/** Order statistics over latency samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median of a layer's samples; 0 when the layer did no work. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile that leaves at least ten samples beyond it, as
    * (percentile, value). Below 20 samples that percentile is under the
    * median, so the maximum is returned instead, with percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 20) (100.0, xs.max)
    else {
      val p = math.floor((n - 10).toDouble / n * 1000) / 10 // one decimal, rounded down
      (p, quantile(xs, p / 100))
    }
  }
}

/** Minimal JSON writer for flat result records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null            => "null"
    case s: String       => str(s)
    case b: Boolean      => b.toString
    case d: Double       => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float        => value(f.toDouble)
    case n: Int          => n.toString
    case n: Long         => n.toString
    case m: Map[_, _]    => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_]      => xs.map(value).mkString("[", ", ", "]")
    case other           => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail the benchmark reports: the highest of p50, p75, p90, p95, p99
    * and p99.9 that still has at least ten samples above it. Returns
    * (percentile, value); with fewer than 20 samples it falls back to p50. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val ps = Seq(0.999, 0.99, 0.95, 0.90, 0.75, 0.5)
    val p = ps.find(p => xs.size * (1 - p) >= 10).getOrElse(0.5)
    (p * 100, quantile(xs, p))
  }
}

/** Wall clock in epoch microseconds, advanced by the monotonic clock so
  * span durations never jump; Spark's listener events carry epoch millis
  * on the same scale. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case None => "null"
    case Some(x) => value(x)
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

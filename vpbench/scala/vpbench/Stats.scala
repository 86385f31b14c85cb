package vpbench

/** Order statistics and the small JSON writer the benchmark prints with. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of unsorted samples. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    val s = samples.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 50)

  /** Percentiles a tail is reported at, lowest first. */
  val TailLadder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The tail rule: the highest ladder percentile with at least `minBeyond`
    * samples strictly above its value. Falls back to the median when too few
    * samples exist for any tail to qualify. Returns (percentile, value).
    */
  def tail(samples: Seq[Double], minBeyond: Int = 10): (Double, Double) = {
    require(samples.nonEmpty, "tail of no samples")
    val qualifying = TailLadder.map(p => p -> percentile(samples, p))
      .filter { case (_, v) => samples.count(_ > v) >= minBeyond }
    qualifying.lastOption.getOrElse(50.0 -> median(samples))
  }

  /** Minimal JSON rendering for the result line and the span file. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

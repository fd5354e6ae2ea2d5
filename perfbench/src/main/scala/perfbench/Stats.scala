package perfbench

/** Pure statistics the report is built from. */
object Stats {

  /** Percentiles op_tail_s may report, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples that must lie strictly beyond the reported tail percentile. */
  val MinBeyond = 10

  /** One tail reading: which percentile, its value, the sample count and how
    * many samples lie beyond it. `ruleMet` is false when even p50 has fewer
    * than [[MinBeyond]] samples beyond it; the value is then the median.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int,
      ruleMet: Boolean)

  /** Nearest-rank index (1-based) of percentile p among n sorted samples. */
  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** The highest ladder percentile with at least [[MinBeyond]] samples beyond it. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    TailLadder.reverse.find(p => n - rank(p, n) >= MinBeyond) match {
      case Some(p) => Tail(p, s(rank(p, n) - 1), n, n - rank(p, n), ruleMet = true)
      case None => Tail(50.0, median(s), n, n - rank(50.0, n), ruleMet = false)
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a
        curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of a span: its length minus the union of its children,
    * each clipped to the span.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end))
    })
}

/** Minimal JSON rendering for the report (maps keep insertion order). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

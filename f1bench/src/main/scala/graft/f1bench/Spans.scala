package graft.f1bench

/** One traced interval. `parent` is the id of the enclosing span (-1 for a
  * root); `op` is the name of the operation the span belongs to. Times are
  * `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * direct children cover. Never negative, and overlapping children are
    * counted once.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(s.start, s.end, c))
    }.toMap
  }
}

package graft.perfbench

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds (the clock Spark's
  * listener events carry), `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Long, end: Long, attrs: Map[String, String] = Map.empty) {
  def dur: Long = end - start
}

object Spans {

  /** Each span's duration minus the part of it its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Per span kind: (count, total ms, self ms). */
  def byKind(spans: Seq[Span]): Seq[(String, Int, Long, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.kind).toSeq.map { case (k, ss) =>
      (k, ss.size, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._4)
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** The span file: one JSON object per line. */
  def toJsonLines(spans: Seq[Span]): String = {
    val sb = new mutable.StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"kind":${q(s.kind)},"name":${q(s.name)},"start_ms":${s.start},"end_ms":${s.end}"""
      s.attrs.toSeq.sortBy(_._1).foreach { case (k, v) => sb ++= s",${q(k)}:${q(v)}" }
      sb ++= "}\n"
    }
    sb.toString
  }

  /** Layer self-time table, one row per span kind. */
  def table(workload: String, spans: Seq[Span]): String = {
    val rows = byKind(spans)
    val total = math.max(1L, rows.map(_._4).sum)
    val sb = new mutable.StringBuilder
    sb ++= s"layer self time, workload $workload (traced passes only)\n"
    sb ++= String.format(java.util.Locale.ROOT, "%-10s %8s %12s %12s %7s%n",
      "span", "count", "total_s", "self_s", "self%")
    rows.foreach { case (k, n, tot, self) =>
      sb ++= String.format(java.util.Locale.ROOT, "%-10s %8d %12.3f %12.3f %6.1f%%%n",
        k, Int.box(n), Double.box(tot / 1e3), Double.box(self / 1e3), Double.box(100.0 * self / total))
    }
    sb.toString
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call from the benchmark into a layer. Times are nanoseconds
  * on the run's monotonic clock; `parent` is -1 for a top-level span. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory for the whole run and written out at its end.
  * A disabled tracer runs the body and records nothing, so the untraced
  * path pays one branch per call. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, name, runId, System.nanoTime(), -1L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Vector[Span] = spans.toVector
}

object Trace {

  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Spans as JSON lines, with self time, relative to the first start. */
  def jsonLines(spans: Seq[Span]): Iterator[String] = {
    val self = selfNs(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.iterator.map(s => Json.write(Json.obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> self(s.id) / 1e9)))
  }

  /** Total and self seconds per span name, in first-seen order. */
  def byName(spans: Seq[Span]): Seq[(String, Double, Double, Int)] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).toSeq.sortBy(_._2.head.id).map { case (n, ss) =>
      (n, ss.map(_.durNs).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9, ss.size)
    }
  }
}

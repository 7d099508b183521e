package perfbench

import scala.collection.mutable

/** One timed interval. `parent` is the id of the enclosing span (-1 at
  * top level). A `sibling` span re-runs a layer that the op's own entry
  * point hides (e.g. planning inside a SQL read) on the same inputs,
  * right after the op: it is reported but lies outside the op's wall
  * time and is never subtracted from it. Spans nested in a sibling are
  * siblings too. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: Int, startNs: Long, endNs: Long, sibling: Boolean) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single benchmark client thread. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, String, Long, Boolean)] = Nil
  private var nextId = 0
  /** Id of the op the recorded spans and counters belong to. */
  var currentOp: Int = -1

  def span[T](name: String, layer: String, sibling: Boolean = false)(
      f: => T): T = {
    val id = nextId
    nextId += 1
    stack = (id, name, layer, System.nanoTime(),
      sibling || stack.headOption.exists(_._5)) :: stack
    try f
    finally {
      val (_, n, l, t0, sib) = stack.head
      stack = stack.tail
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      done += Span(id, parent, n, l, currentOp, t0, System.nanoTime(), sib)
    }
  }

  def spans: Seq[Span] = done.toSeq
}

object Trace {
  /** Self time per layer in ms: each span's duration minus the time its
    * direct non-sibling children cover. Children that overlap each other
    * (they cannot on one thread, but a malformed trace might) are
    * merged first, so self time is never negative. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.filter(s => s.parent >= 0 && !s.sibling)
      .groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.layer -> math.max(0L, s.durNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

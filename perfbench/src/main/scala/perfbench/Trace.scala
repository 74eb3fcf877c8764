package perfbench

import scala.collection.mutable

/** One timed interval of one operation. `parent` is -1 for the
  * operation's root span. Times are nanoseconds on one clock. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
  def mid: Long = start + dur / 2
  def contains(t: Long): Boolean = start <= t && t <= end
}

object Trace {

  /** Self time of every span of one operation's tree, in nanoseconds.
    *
    * Each instant of the tree is given to the active spans that have no
    * active child, split evenly when several of them overlap. A span's
    * self time is therefore its duration minus the part its children
    * cover, and the self times of a tree sum to its root's duration
    * even when sibling spans (parallel jobs or stages) overlap.
    * Children must lie inside their parents (see [[clampInto]]).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val idx = spans.map(_.id).zipWithIndex.toMap
    val children = Array.fill(spans.size)(mutable.ArrayBuffer.empty[Int])
    spans.zipWithIndex.foreach { case (s, i) =>
      idx.get(s.parent).foreach(p => children(p) += i)
    }
    val self = Array.fill(spans.size)(0.0)
    val bounds = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val active = new Array[Boolean](spans.size)
    bounds.iterator.sliding(2).withPartial(false).foreach { w =>
      val (a, b) = (w(0), w(1))
      var i = 0
      while (i < spans.size) {
        active(i) = spans(i).start <= a && spans(i).end >= b; i += 1
      }
      val leaves = spans.indices.filter(i =>
        active(i) && !children(i).exists(c => active(c)))
      leaves.foreach(i => self(i) += (b - a).toDouble / leaves.size)
    }
    spans.zipWithIndex.map { case (s, i) => s.id -> self(i) }.toMap
  }

  /** `s` cut to lie inside `p` (a zero-length span at `p`'s edge when
    * they do not meet): listener times have millisecond resolution and
    * may stick out of a parent measured in nanoseconds. */
  def clampInto(s: Span, p: Span): Span = {
    val st = math.min(math.max(s.start, p.start), p.end)
    s.copy(parent = p.id, start = st, end = math.max(st, math.min(s.end, p.end)))
  }

  /** The innermost of `candidates` (ordered outermost first) whose
    * interval holds the midpoint of `s`. */
  def containing(s: Span, candidates: Seq[Span]): Option[Span] =
    candidates.reverseIterator.find(_.contains(s.mid))
}

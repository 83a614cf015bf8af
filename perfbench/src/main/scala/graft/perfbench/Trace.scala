package graft.perfbench

import scala.collection.mutable

/** One span of the traced run, in wall-clock milliseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = (endMs - startMs).max(0.0)
}

/** In-memory span recorder. Spans nest run > setup > pass > operation >
  * {plan, execute} > job > stage; the benchmark opens the spans around
  * its own calls and adds job and stage spans from the listener records
  * once the run is over. Nothing is written until the run ends. */
final class Tracer(nowMs: () => Double) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  var enabled = true

  def current: Int = if (open.isEmpty) 0 else open.top

  /** Run `body` inside a span (when enabled) that started at `startMs`. */
  def span[T](layer: String, name: String, startMs: Double = Double.NaN)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = if (startMs.isNaN) nowMs() else startMs
      val parent = current
      nextId += 1
      val id = nextId
      open.push(id)
      try body
      finally {
        open.pop()
        spans += Span(id, parent, layer, name, t0, nowMs())
      }
    }

  /** Record an already-measured span under `parent`; returns its id. */
  def add(parent: Int, layer: String, name: String, startMs: Double, endMs: Double): Int = {
    nextId += 1
    spans += Span(nextId, parent, layer, name, startMs, endMs)
    nextId
  }

  def all: Seq[Span] = spans.sortBy(_.id).toSeq

  /** Self time of every span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfMs(): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (c.startMs.max(s.startMs), c.endMs.min(s.endMs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durMs - Tracer.unionMs(kids)).max(0.0)
    }.toMap
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(intervals: Iterable[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = 0.0
    var curEnd = Double.NegativeInfinity
    intervals.toSeq.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > Double.NegativeInfinity) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > Double.NegativeInfinity) total += curEnd - curStart
    total
  }
}

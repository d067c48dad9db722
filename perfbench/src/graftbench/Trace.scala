package graftbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded around calls into each layer, from the benchmark's own
  * code. One client thread drives every workload, so the open-span stack
  * is a plain list. Spans stay in memory and are written when the run
  * ends. Only ops the harness marks as traced record anything; on the
  * others, [[apply]] is a plain call. */
final class Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
    def ms: Double = (end - start) / 1e6
  }

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[(Int, String, Long)] = Nil
  private var op: Long = -1L
  private var on = false

  def begin(opId: Long, traced: Boolean): Unit = { op = opId; on = traced; stack = Nil }
  def end(): Unit = { on = false; op = -1L }

  def apply[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.size + stack.size
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val t0 = System.nanoTime()
      stack = (id, name, t0) :: stack
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Self time per span id: duration minus the union of its children's
    * intervals. Children of one span never overlap (one client thread). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

package lakebench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are recorded by the
  * harness around each call it makes into a layer of graft: name, start,
  * end, parent span and one trace id per operation. Nothing is written
  * until the run ends. With `enabled = false` every method is a no-op
  * around the body, so untraced runs pay one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var traceId = 0L

  /** Drop every span recorded so far (set-up is not part of the trace). */
  def clear(): Unit = synchronized { spans.clear(); stack = Nil }

  /** Start a new operation: spans recorded until the next call share an id. */
  def newTrace(): Unit = if (enabled) traceId += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the slot so children get higher ids
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(traceId, id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere (e.g. a listener event), as a root. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized {
      spans += Span(-1L, spans.size, -1, name, startNs, endNs)
    }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Total self time in seconds per span name. */
  def selfSeconds: Map[String, Double] = Tracer.selfTimes(all)
    .groupMapReduce(_._1)(_._2)(_ + _).map { case (k, ns) => k -> ns / 1e9 }
}

object Tracer {
  final case class Span(trace: Long, id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its direct children (children may overlap each other or
    * run past the parent; only the covered part inside the parent counts).
    */
  def selfTimes(spans: Seq[Span]): Seq[(String, Long)] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      (s.name, s.durNs - covered)
    }
  }

  /** Cost of recording one span, in microseconds, measured by recording
    * `n` empty spans on a scratch tracer. Multiplied by the span count of
    * a run it gives the tracing overhead the run carried.
    */
  def spanCostUs(n: Int = 200000): Double = {
    val t = new Tracer(true)
    (0 until n / 10).foreach(_ => t.span("warm")(()))
    val t2 = new Tracer(true)
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { t2.span("calibrate")(()); i += 1 }
    (System.nanoTime() - t0) / 1e3 / n
  }
}

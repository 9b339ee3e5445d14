package perfbench

import scala.collection.mutable.ArrayBuffer

/** A timed region. Times are epoch nanoseconds, so they compare directly
  * with the millisecond timestamps Spark puts on listener events.
  * `parent` is -1 for a root; `trace` is the id of the root span.
  */
final case class Span(id: Int, name: String, parent: Int, trace: Int,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for one client thread. Spans nest by call
  * structure and are only read back when the run ends.
  */
final class Tracer {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Int)] // (span id, trace id)
  private var nextId = 0

  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  def spans: Seq[Span] = done.toSeq

  /** The span closed most recently. */
  def lastClosed: Span = done.last

  /** Id of the innermost open span, -1 outside any span. */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val (parent, trace) = stack.headOption.getOrElse((-1, id))
    stack = (id, trace) :: stack
    val t0 = now()
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, trace, t0, now())
    }
  }

  /** The innermost span, among those recorded, that was open at `epochNs`. */
  def openAt(epochNs: Long): Option[Span] =
    done.filter(s => s.start <= epochNs && epochNs < s.end)
      .maxByOption(_.start)
}

object Trace {

  /** Self time of every span: its duration minus the part of it covered by
    * its children. Overlapping children count once, and a child running
    * past its parent's end is clipped to the parent.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = Long.MinValue
      var curEnd = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd > curStart) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd > curStart) covered += curEnd - curStart
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }
}

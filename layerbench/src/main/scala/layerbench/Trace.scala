package layerbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer, recorded from the benchmark's side of
  * the call. `op` is the op the span belongs to (-1 outside any op),
  * `parent` the enclosing span's id (-1 for a root).
  */
final case class Span(id: Long, name: String, layer: String, op: Long,
    parent: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Outside-in tracer: spans are opened around calls into a layer,
  * kept in memory and written out when the run ends. When disabled it
  * runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  // (span id, op id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (-1L, -1L)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, op) = current.get()
      open(layer, name, op, parent)(body)
    }

  /** The root span of op `opId`; spans opened inside it on this thread
    * belong to the op.
    */
  def op[T](opId: Long)(body: => T): T =
    if (!enabled) body else open("op", "op", opId, -1L)(body)

  private def open[T](layer: String, name: String, op: Long, parent: Long)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val saved = current.get()
    current.set((id, op))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(saved)
      spans.synchronized { spans += Span(id, name, layer, op, parent, t0, t1) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Self-time arithmetic over recorded spans. */
object SelfTime {

  /** Length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its children cover. Children may overlap each other
    * (concurrent calls), so the covered part is the union of their
    * intervals clipped to the parent.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** Total self time per layer, in nanoseconds. The "op" layer's self
    * time is the op time no layer span covers.
    */
  def perLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }

  /** Share of total op time not covered by any layer span. */
  def unattributedFrac(spans: Seq[Span]): Double = {
    val ops = spans.filter(_.layer == "op")
    val total = ops.map(_.dur).sum
    if (total == 0) 0.0 else perLayer(spans).getOrElse("op", 0L).toDouble / total
  }
}

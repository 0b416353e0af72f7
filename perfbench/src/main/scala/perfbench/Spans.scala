package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch nanoseconds so driver-side spans
  * and Spark listener events (epoch milliseconds) share one clock.
  */
final case class Span(
    id: Long,
    name: String,
    layer: String,
    start: Long,
    end: Long,
    parent: Long,
    op: Long) {
  def duration: Long = end - start
}

object Span {

  /** Duration minus the part of it covered by its children (clipped to
    * the span; overlapping children count once).
    */
  def selfTime(span: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    span.duration - unionLength(clipped)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Span recorder kept in memory; `write` dumps it as JSON lines. The
  * clock is anchored once so `now` is epoch nanoseconds with
  * `nanoTime` resolution.
  */
final class Spans {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val epochAnchor = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile var currentOp: Long = 0L

  def now(): Long = epochAnchor + System.nanoTime()

  /** Time `body` as a child of the calling thread's open span. */
  def timed[T](name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(-1L)
    val op = currentOp
    stack.set(id :: stack.get)
    val start = now()
    try body
    finally {
      done.add(Span(id, name, layer, start, now(), parent, op))
      stack.set(stack.get.tail)
    }
  }

  /** A span reconstructed from listener timestamps; `parent` -1 means
    * "the innermost span that contains its start".
    */
  def record(name: String, layer: String, start: Long, end: Long, parent: Long, op: Long): Unit =
    done.add(Span(ids.incrementAndGet(), name, layer, start, end, parent, op))

  /** Start an operation: spans opened until the next call carry this id. */
  def newOp(): Long = { currentOp = ids.incrementAndGet(); currentOp }

  /** Every span, with unknown parents resolved by time containment
    * among the spans the benchmark itself opened.
    */
  def all: Seq[Span] = {
    val spans = done.asScala.toSeq.sortBy(_.start)
    val own = spans.filterNot(_.layer.startsWith("spark."))
    spans.map { s =>
      if (s.parent != -1L) s
      else own.filter(o => o.id != s.id && o.start <= s.start && s.start < o.end &&
          o.duration >= s.duration)
        .sortBy(_.duration).headOption
        .map(p => s.copy(parent = p.id, op = if (s.op == 0L) p.op else s.op))
        .getOrElse(s.copy(parent = 0L))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val byParent = spans.groupBy(_.parent)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val lines = spans.map { s =>
      json.writeValueAsString(json.createObjectNode()
        .put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("start_ns", s.start).put("end_ns", s.end).put("parent", s.parent).put("op", s.op)
        .put("self_ns", Span.selfTime(s, byParent.getOrElse(s.id, Nil))))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

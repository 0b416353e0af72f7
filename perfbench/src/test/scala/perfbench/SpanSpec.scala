package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Long, start: Long, end: Long, parent: Long = 0L) =
    Span(id, s"s$id", "test", start, end, parent, 0L)

  test("union length merges overlaps and keeps gaps") {
    assert(Span.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L))) == 50L)
    assert(Span.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Span.unionLength(Nil) == 0L)
  }

  test("self time subtracts children once and clips them to the parent") {
    val parent = span(1, 0, 100)
    val kids = Seq(span(2, 10, 30, 1), span(3, 20, 50, 1), span(4, 90, 120, 1))
    // covered: [10, 50) and [90, 100) = 50
    assert(Span.selfTime(parent, kids) == 50L)
    assert(Span.selfTime(parent, Nil) == 100L)
  }

  test("a child outside the parent does not count") {
    assert(Span.selfTime(span(1, 0, 100), Seq(span(2, 150, 200, 1))) == 100L)
  }

  test("recorded spans find their parent by time containment") {
    val spans = new Spans
    spans.timed("outer", "graft.core") {
      val t = spans.now()
      Thread.sleep(5)
      spans.record("job 1", "spark.scheduler", t, spans.now(), -1L, 0L)
    }
    val all = spans.all
    val outer = all.find(_.name == "outer").get
    assert(outer.parent == 0L)
    assert(all.find(_.name == "job 1").get.parent == outer.id)
  }
}

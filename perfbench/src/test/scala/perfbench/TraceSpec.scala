package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Long, end: Long, name: String = "x") =
    Span(id, parent, op = 1, name, start, end)

  test("self time subtracts the union of the children, counting overlaps once") {
    val root = span(1, 0, 0, 100)
    val kids = Seq(span(2, 1, 10, 30), span(3, 1, 20, 40), span(4, 1, 60, 70))
    assert(Tracer.selfUs(root, kids) == 100 - 30 - 10)
  }

  test("only direct children count, clipped to the parent's interval") {
    val root = span(1, 0, 0, 100)
    val all = Seq(root, span(2, 1, 90, 130), span(3, 2, 95, 99), span(4, 9, 0, 50))
    assert(Tracer.selfUs(root, all) == 90)
    assert(Tracer.selfUs(all(1), all) == 40 - 4)
  }

  test("a span without children is all self time") {
    assert(Tracer.selfUs(span(1, 0, 5, 25), Nil) == 20)
  }

  test("nest moves job spans under the narrowest span holding their start") {
    val t = new Tracer
    t.add(span(1, 0, 0, 1000, "op"))
    t.add(span(2, 1, 0, 600, "queries.build"))
    t.add(span(3, 1, 600, 1000, "queries.serve"))
    t.add(span(4, 1, 100, 200, "spark.job"))
    t.add(span(5, 1, 700, 900, "spark.job"))
    t.nest(1, "spark.job", slackUs = 0)
    assert(t.all.filter(_.name == "spark.job").map(_.parent) == Seq(2L, 3L))
    val all = t.all
    assert(Tracer.selfUs(all.head, all) == 0)
    assert(Tracer.selfUs(all(1), all) == 500)
  }
}

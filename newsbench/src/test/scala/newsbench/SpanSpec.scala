package newsbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, s: Long, e: Long, name: String = "x") =
    Span(id, name, parent, 0, s, e)

  test("covered counts overlapping intervals once and clips to the window") {
    assert(Span.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L))) == 40)
    assert(Span.covered(0, 100, Seq((-50L, 10L))) == 10)
    assert(Span.covered(0, 100, Nil) == 0)
    assert(Span.covered(0, 100, Seq((100L, 120L))) == 0)
  }

  test("self time is duration minus the part children cover") {
    val spans = Seq(sp(1, -1, 0, 100), sp(2, 1, 10, 40), sp(3, 1, 50, 70),
      sp(4, 2, 15, 25))
    val self = Span.selfTimes(spans)
    assert(self == Map(1 -> 50L, 2 -> 20L, 3 -> 20L, 4 -> 10L))
    assert(self.values.sum == 100) // nested spans account for the root
  }

  test("children on another thread may overlap; their union is subtracted once") {
    val spans = Seq(sp(1, -1, 0, 100), sp(2, 1, 10, 60), sp(3, 1, 40, 80))
    assert(Span.selfTimes(spans)(1) == 30)
  }
}

package newsbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles pick a sample, never interpolate") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.0) // lower middle
    assert(Stats.median(Seq(9.0)) == 9.0)
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(hundred, 90) == 90.0)
    assert(hundred.count(_ > Stats.percentile(hundred, 90)) == 10)
  }

  test("a percentile of nothing is an error, not a number") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }
}

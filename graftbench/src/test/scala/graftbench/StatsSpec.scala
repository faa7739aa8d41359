package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(5.0, 1, 9, 3, 7, 2)) == 4.0)
  }

  test("percentile is nearest-rank and always an observed sample") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 500.0)
    assert(Stats.percentile(xs, 99) == 990.0)
    assert(Stats.percentile(xs, 100) == 1000.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 90) == 4.0)
  }

  test("too few samples are refused") {
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }
}

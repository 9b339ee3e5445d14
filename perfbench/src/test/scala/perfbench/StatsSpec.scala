package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Some(5.0))
    assert(Stats.percentile(xs, 90) == Some(9.0))
    assert(Stats.percentile(xs, 100) == Some(10.0))
    assert(Stats.percentile(Seq(7.0), 90) == Some(7.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("percentile does not depend on sample order") {
    val xs = (1 to 200).map(i => (i * 37 % 200).toDouble)
    assert(Stats.percentile(xs, 90) == Stats.percentile(xs.sorted, 90))
  }

  test("p90 needs at least 10 samples beyond it") {
    val ninetyNine = (1 to 99).map(_.toDouble)
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(ninetyNine, 90, minBeyond = 10).isEmpty)
    assert(Stats.percentile(hundred, 90, minBeyond = 10) == Some(90.0))
    // the 10 samples above p90 are exactly 91..100
    assert(hundred.count(_ > 90.0) == 10)
    assert(Stats.percentile((1 to 43).map(_.toDouble), 90, minBeyond = 10).isEmpty)
  }

  test("percentile rejects ranks outside (0, 100]") {
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 0))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between order statistics") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(Stats.percentile(xs, 0) == 15)
    assert(Stats.percentile(xs, 100) == 50)
    assert(Stats.median(xs) == 35)
    assert(Stats.percentile(xs, 40) == 29) // between 20 and 35
    assert(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 90) == 10)
    assert(Stats.median(Seq(7.0)) == 7)
    intercept[IllegalArgumentException](Stats.median(Nil))
    intercept[IllegalArgumentException](Stats.percentile(xs, 101))
  }

  test("ratio, skew and interval union give known answers") {
    assert(Stats.ratio(3, 4) == 0.75)
    assert(Stats.ratio(3, 0) == 0)
    assert(Stats.skew(Seq(1.0, 2, 2, 8)) == 4)
    assert(Stats.skew(Nil) == 0)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4)
    assert(Stats.unionLength(Seq((5.0, 6.0), (0.0, 10.0))) == 10)
    assert(Stats.unionLength(Seq((1.0, 1.0), (2.0, Double.NaN))) == 0)
  }
}

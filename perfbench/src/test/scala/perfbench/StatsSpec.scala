package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile needs ten samples beyond it") {
    assert(Stats.samplesFor(50) == 20)
    assert(Stats.samplesFor(75) == 40)
    assert(Stats.samplesFor(90) == 100)
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 90).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 90).contains(90.0))
    assert(Stats.percentile(Nil, 50).isEmpty)
  }

  test("nearest-rank percentile ignores sample order") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0) ++ (6 to 25).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Stats.percentile(xs.sorted, 50))
    assert(Stats.percentile(xs, 50).contains(13.0))
    assert(Stats.beyond(25, 50) == 12)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

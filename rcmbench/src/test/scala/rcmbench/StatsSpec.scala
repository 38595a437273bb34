package rcmbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
  }

  test("tail percentile leaves at least ten samples above it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    for (n <- 20 to 2000; p <- Stats.tailPercentile(n)) {
      assert(n - math.ceil(p * n / 100.0).toInt >= 10, s"n=$n p=$p")
      if (p < 99) assert(n - math.ceil((p + 1) * n / 100.0).toInt < 10, s"n=$n p=$p not highest")
    }
  }

  test("tail falls back to the maximum when samples are few") {
    assert(Stats.tail(Seq(2.0, 9.0, 4.0)) == (9.0, "max"))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == (90.0, "p90"))
  }
}

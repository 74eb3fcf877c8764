package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("Harrell-Davis percentiles") {
    val xs = (1 to 99).map(_.toDouble)
    assert(math.abs(Stats.harrellDavis(xs, 50) - 50.0) < 1e-9) // symmetric sample
    assert(math.abs(Stats.harrellDavis(xs, 90) - 90.0) < 0.5)
    assert(Stats.harrellDavis(Seq(7.0), 75) == 7.0)
    assert(Stats.harrellDavis(Seq(3.0, 1.0, 2.0), 100) == 3.0)
    assert(Stats.harrellDavis(Seq(3.0, 1.0, 2.0), 0) == 1.0)
    // a weighted mean: between the extremes, and order-free
    val ys = Seq(5.0, 1.0, 9.0, 2.0, 2.5)
    val h = Stats.harrellDavis(ys, 80)
    assert(h > ys.min && h < ys.max)
    assert(Stats.harrellDavis(ys.reverse, 80) == h)
  }

  test("Harrell-Davis moves smoothly where one order statistic jumps") {
    // 9 fast and 10 slow samples: the nearest-rank median is the slowest
    // fast one or the fastest slow one, depending on one sample
    val fast = Seq.fill(9)(100.0)
    val (a, b) = (fast ++ Seq.fill(10)(300.0), fast ++ Seq(99.0) ++ Seq.fill(9)(300.0))
    assert(math.abs(Stats.harrellDavis(a, 50) - Stats.harrellDavis(b, 50)) < 100)
  }

  test("tail percentile leaves at least 10 samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(26).contains(61))
    assert(Stats.tailPercentile(1000).contains(99))
    for (n <- 11 to 500) {
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      assert(p == 99 || Stats.beyond(n, p + 1) < 10, s"n=$n: p${p + 1} also qualifies")
    }
  }

  test("no tail percentile for 10 samples or fewer") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(6).isEmpty)
  }

  test("the beyond count is the samples above the nearest rank") {
    val n = 40
    val p = Stats.tailPercentile(n).get
    val rank = math.ceil(p / 100.0 * n).toInt
    assert((1 to n).count(_ > rank) == Stats.beyond(n, p))
  }
}

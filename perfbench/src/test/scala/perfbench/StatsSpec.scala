package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a tail needs at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(199).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("the chosen percentile leaves exactly the rule's margin at its threshold") {
    for (n <- 1 to 2000; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(p, n) >= Stats.MinBeyond, s"n=$n p=$p")
      val higher = Stats.Ladder.takeWhile(_ > p)
      assert(higher.forall(h => Stats.beyond(h, n) < Stats.MinBeyond), s"n=$n p=$p")
    }
  }

  test("nearest-rank percentiles and the median") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.label(95) == "p95" && Stats.label(99.9) == "p99.9")
  }
}

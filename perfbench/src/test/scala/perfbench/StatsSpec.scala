package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("nearest-rank percentile and median") {
    assert(Stats.percentile(samples(100), 0.95) == 95.0)
    assert(Stats.percentile(samples(10), 0.5) == 5.0)
    assert(Stats.median(samples(4)) == 2.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("p95 is reported only with at least ten samples beyond it") {
    assert(Stats.beyond(200, 0.95) == 10)
    assert(Stats.beyond(199, 0.95) == 9)
    assert(Stats.tail(samples(200)) == (0.95, 190.0))
    // 199 samples leave nine beyond p95, so the rule falls back to p90
    assert(Stats.tail(samples(199))._1 == 0.9)
    assert(Stats.tail(samples(1000)) == (0.99, 990.0))
  }

  test("too few samples for any percentile report the maximum") {
    assert(Stats.tail(samples(40)) == (0.75, 30.0))
    assert(Stats.tail(samples(20)) == (0.5, 10.0))
    assert(Stats.tail(samples(19)) == (1.0, 19.0))
  }
}

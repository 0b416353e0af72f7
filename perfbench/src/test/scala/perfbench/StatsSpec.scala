package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("p90 is reported only with at least 10 samples beyond it") {
    assert(Stats.tailSamples(100, 0.9) == 10)
    assert(Stats.tailSamples(99, 0.9) == 9)
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    // shuffled input gives the same nearest-rank value
    assert(Stats.percentile(scala.util.Random.shuffle((1 to 200).map(_.toDouble)), 0.9).contains(180.0))
  }

  test("p50 needs only 10 samples above it") {
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0))
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def sample(n: Int) = (1 to n).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.percentile(sample(10), 0.5) == 5.0)
    assert(Stats.percentile(sample(10), 0.9) == 9.0)
    assert(Stats.percentile(sample(10), 1.0) == 10.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.geomean(Seq(0.25)) == 0.25)
    assertThrows[IllegalArgumentException](Stats.geomean(Nil))
  }

  test("the tail is the highest grid percentile with ten samples beyond it") {
    val cases = Seq(
      // n -> (percentile, samples beyond it)
      1000 -> (99.0, 10), 200 -> (95.0, 10), 100 -> (90.0, 10), 99 -> (75.0, 24),
      40 -> (75.0, 10), 39 -> (50.0, 19), 20 -> (50.0, 10))
    cases.foreach { case (n, (pct, beyond)) =>
      val t = Stats.tail(sample(n))
      assert((t.pct, t.beyond, t.samples) == ((pct, beyond, n)), s"n=$n")
      assert(t.value == Stats.percentile(sample(n), pct / 100), s"n=$n")
      assert(t.beyond >= 10)
    }
  }

  test("a sample too small for any tail reports its median and the shortfall") {
    val t = Stats.tail(sample(15))
    assert(t.pct == 50.0 && t.value == 8.0 && t.beyond == 7 && t.samples == 15)
  }
}

package layerbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 90.0) // 91..100 lie beyond it
    assert(xs.count(_ > t.value) == 10)
    assert(t.pct == 90.0)
    assert(t.samples == 100)
    val t2 = Stats.tail((1 to 25).map(_.toDouble).reverse)
    assert(t2.value == 15.0)
    assert(math.abs(t2.pct - 60.0) < 1e-9)
  }

  test("with ten samples or fewer the tail is the maximum, flagged as p100") {
    val t = Stats.tail(Seq(5.0, 1.0, 9.0))
    assert(t.value == 9.0 && t.pct == 100.0 && t.samples == 3)
    assert(Stats.tail((1 to 10).map(_.toDouble)).pct == 100.0)
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
  }

  test("failed_frac counts throws and wrong results; expected rejections succeed") {
    val a = new Stats.Accounting
    a.record(Stats.Ok)
    a.record(Stats.RejectedAsExpected)
    a.record(Stats.RejectedAsExpected)
    a.record(Stats.Failed("wrong rows"))
    assert(a.attemptedOps == 4)
    assert(a.failedOps == 1)
    assert(a.rejectedOps == 2)
    assert(a.failedFrac == 0.25)
    assert(a.failureReasons == Map("wrong rows" -> 1))
  }

  test("no ops attempted reads as no failures") {
    assert(new Stats.Accounting().failedFrac == 0.0)
  }
}

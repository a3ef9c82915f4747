package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest ladder percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    // p99 and p95 leave 1 and 5 samples beyond; p90 leaves exactly 10
    assert(Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100))
    val thousand = (1 to 1000).map(_.toDouble).reverse
    assert(Stats.tail(thousand) == Stats.Tail(990.0, 99.0, 1000))
    val twenty = (1 to 20).map(_.toDouble)
    assert(Stats.tail(twenty) == Stats.Tail(10.0, 50.0, 20))
  }

  test("with too few samples for any percentile the tail is the maximum") {
    val xs = Seq(5.0, 1.0, 9.0, 2.0)
    assert(Stats.tail(xs) == Stats.Tail(9.0, 100.0, 4))
    assert(Stats.tail((1 to 19).map(_.toDouble)).percentile == 100.0)
  }
}

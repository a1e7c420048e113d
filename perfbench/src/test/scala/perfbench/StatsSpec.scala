package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("no tail until more than ten samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("the tail has exactly ten samples beyond it") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val t = Stats.tail(xs).get
    assert(t.value == 90.0)
    assert(xs.count(_ > t.value) == 10)
    assert(t.pct == 90.0 && t.n == 100)
  }

  test("eleven samples: the minimum is the only point with ten beyond") {
    val t = Stats.tail((0 to 10).map(_.toDouble)).get
    assert(t.value == 0.0)
    assert(math.abs(t.pct - 100.0 / 11) < 1e-12)
  }

  test("ties count as samples, not values") {
    val t = Stats.tail(Seq.fill(15)(1.0) ++ Seq.fill(5)(2.0)).get
    assert(t.value == 1.0 && t.pct == 50.0)
  }
}

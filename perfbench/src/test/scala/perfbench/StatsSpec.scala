package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val (v, pct) = Stats.tail(xs).get
    // exactly ten samples (31..40) lie beyond 30; none higher has ten
    assert(v == 30.0)
    assert(xs.count(_ > v) == 10)
    assert(xs.count(_ > 31.0) == 9)
    assert(math.abs(pct - 100.0 * 29 / 39) < 1e-9)
  }

  test("tail ignores input order and needs more than ten samples") {
    val xs = scala.util.Random.shuffle((1 to 11).map(_.toDouble))
    assert(Stats.tail(xs).map(_._1).contains(1.0))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("tail with a custom count beyond") {
    assert(Stats.tail((1 to 100).map(_.toDouble), beyond = 1).map(_._1).contains(99.0))
  }

  test("least-squares line recovers an exact line and fits between noisy points") {
    val (a, b) = Stats.line(Seq(1.0, 2.0, 4.0).map(x => x -> (3.0 + 0.5 * x)))
    assert(math.abs(a - 3.0) < 1e-12 && math.abs(b - 0.5) < 1e-12)
    val (a2, b2) = Stats.line(Seq(0.0 -> 1.0, 0.0 -> 3.0, 2.0 -> 5.0, 2.0 -> 7.0))
    assert(math.abs(a2 - 2.0) < 1e-12 && math.abs(b2 - 2.0) < 1e-12)
  }
}

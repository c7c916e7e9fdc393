package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("a percentile is reported only with ten samples beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.0))
    assert(Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("nearest-rank percentile ignores input order") {
    val xs = scala.util.Random.shuffle((1 to 40).map(_.toDouble))
    assert(Stats.percentile(xs, 0.5).contains(20.0))
  }

  test("median of even and odd samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("interval union counts overlapping time once") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    assert(Stats.unionLength(Nil, 0, 100) == 0)
  }

  test("interval union is clipped to the span") {
    assert(Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(Stats.unionLength(Seq((200L, 300L)), 0, 100) == 0)
    // a union never exceeds the span it is clipped to
    assert(Stats.unionLength(Seq((-50L, 500L), (10L, 20L)), 0, 100) == 100)
  }
}

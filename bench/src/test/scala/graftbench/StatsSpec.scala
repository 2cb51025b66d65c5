package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 1) == 1.0)
  }

  test("the reported tail is the highest percentile with ten samples beyond it") {
    def tailP(n: Int) = Stats.tail((1 to n).map(_.toDouble)).map(_._1)
    assert(tailP(19).isEmpty)
    assert(tailP(20).contains(50.0))
    assert(tailP(99).contains(75.0))
    assert(tailP(100).contains(90.0))
    assert(tailP(199).contains(90.0))
    assert(tailP(200).contains(95.0))
    assert(tailP(1000).contains(99.0))
    assert(tailP(10000).contains(99.9))
    assert(Stats.tail((1 to 100).map(_.toDouble)).contains(90.0 -> 90.0))
    assert(Stats.beyond(100, 90) == 10)
  }

  test("covered time is the union of intervals clipped to the window") {
    assert(Stats.covered(Nil, 0, 10) == 0)
    assert(Stats.covered(Seq((1L, 3L), (5L, 6L)), 0, 10) == 3)
    assert(Stats.covered(Seq((1L, 5L), (2L, 3L), (4L, 8L)), 0, 10) == 7)
    assert(Stats.covered(Seq((-5L, 2L), (9L, 20L)), 0, 10) == 3)
    assert(Stats.covered(Seq((3L, 3L), (12L, 15L)), 0, 10) == 0)
  }

  test("self time subtracts what the children cover, once") {
    assert(Stats.selfTime(0, 10, Nil) == 10)
    assert(Stats.selfTime(0, 10, Seq((2L, 4L), (6L, 7L))) == 7)
    assert(Stats.selfTime(0, 10, Seq((2L, 6L), (4L, 8L))) == 4)
    assert(Stats.selfTime(0, 10, Seq((0L, 10L))) == 0)
  }
}

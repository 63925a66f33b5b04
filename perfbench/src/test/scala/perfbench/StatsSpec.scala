package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("percentile interpolates linearly between order statistics") {
    assert(percentile(Seq(5.0, 1.0, 3.0, 2.0, 4.0), 0.5) == 3.0)
    assert(math.abs(percentile((1 to 5).map(_.toDouble), 0.9) - 4.6) < 1e-12)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(percentile(Seq(7.0), 0.9) == 7.0)
    assert(percentile(Seq(1.0, 2.0), 0.0) == 1.0 && percentile(Seq(1.0, 2.0), 1.0) == 2.0)
    assertThrows[IllegalArgumentException](percentile(Nil, 0.5))
  }

  test("a percentile is supported only with ten samples beyond it") {
    val ok = (1 to 92).map(_.toDouble)
    val short = (1 to 91).map(_.toDouble)
    assert(beyond(ok, 0.9) == 10 && supportedPercentile(ok, 0.9).nonEmpty)
    assert(beyond(short, 0.9) == 9 && supportedPercentile(short, 0.9).isEmpty)
    assert(supportedPercentile((1 to 20).map(_.toDouble), 0.5).contains(10.5))
    assert(supportedPercentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(supportedPercentile(Nil, 0.5).isEmpty)
  }

  test("the pass order is a seeded permutation, independent of input order") {
    val names = (1 to 12).map(i => s"q_$i")
    val a = passOrder(names, 7L, 1)
    assert(a == passOrder(names.reverse, 7L, 1))
    assert(a.sorted == names.sorted)
    assert(a != passOrder(names, 7L, 2))
    assert(a != passOrder(names, 8L, 1))
    assert((0 to 5).map(p => passOrder(names, 3L, p)) == (0 to 5).map(p => passOrder(names, 3L, p)))
  }

  test("self time charges each instant to the deepest active spans") {
    val spans = Seq(
      Span(0, -1, "query", 0, 100),
      Span(1, 0, "a", 10, 50),
      Span(2, 1, "g", 20, 30),
      Span(3, 0, "b", 40, 80),
      Span(4, 0, "late", 90, 120), // clipped to the parent's end
      Span(5, 3, "outside", 200, 300)) // outside its parent: dropped
    val self = selfTimes(spans, 0)
    assert(self == Map(0 -> 20.0, 1 -> 25.0, 2 -> 10.0, 3 -> 35.0, 4 -> 10.0))
    assert(self.values.sum == 100.0)
  }

  test("self times sum to the root's duration under arbitrary nesting") {
    val r = new scala.util.Random(5)
    (1 to 50).foreach { _ =>
      val spans = Span(0, -1, "query", 0, 1000) +: (1 to 20).map { i =>
        val a = r.nextInt(1000).toLong
        Span(i, r.nextInt(i), "x", a, a + r.nextInt(400))
      }
      assert(math.abs(selfTimes(spans, 0).values.sum - 1000.0) < 1e-6)
    }
  }
}

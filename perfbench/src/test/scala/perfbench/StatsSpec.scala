package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest ladder percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs)
    // p90 is rank 90 with exactly 10 beyond; p95 would leave only 5.
    assert(t.percentile == 90.0 && t.value == 90.0 && t.beyond == 10 && t.ruleMet)
    assert(Stats.tail((1 to 99).map(_.toDouble)).percentile == 75.0)
    assert(Stats.tail((1 to 200).map(_.toDouble)).percentile == 95.0)
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Stats.Tail(75.0, 30.0, 40, 10, ruleMet = true))
  }

  test("tail falls back to the median, flagged, when even p50 has fewer than 10 beyond") {
    val t = Stats.tail(Seq(5.0, 1.0, 3.0))
    assert(t.percentile == 50.0 && t.value == 3.0 && !t.ruleMet && t.samples == 3)
    assert(Stats.tail((1 to 20).map(_.toDouble)).ruleMet)
    assert(!Stats.tail((1 to 19).map(_.toDouble)).ruleMet)
  }

  test("tail ignores sample order") {
    val xs = scala.util.Random.shuffle((1 to 57).map(_.toDouble))
    assert(Stats.tail(xs) == Stats.tail(xs.sorted))
  }

  test("union of intervals merges overlaps and nesting, not gaps") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time is the span minus the union of its children, clipped to the span") {
    // op [100, 200); jobs overlap each other and one starts before the op.
    assert(Stats.selfTime(100L, 200L, Seq((90L, 120L), (110L, 150L), (180L, 260L))) == 30L)
    assert(Stats.selfTime(0L, 50L, Nil) == 50L)
    assert(Stats.selfTime(0L, 50L, Seq((60L, 70L))) == 50L)
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("json rendering escapes strings and keeps map order") {
    assert(Json.render(Map("a" -> 1, "b" -> Seq("x\"y", Double.NaN), "c" -> None)) ==
      """{"a":1,"b":["x\"y",null],"c":null}""")
  }
}

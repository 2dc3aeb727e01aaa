package graft.f1bench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  // a pool of 270 queries whose reference costs spread like the registry's
  private val costs: Map[String, Double] =
    (1 to 270).map(i => f"q$i%03d_query" -> math.pow(1.02, i % 97)).toMap

  test("the same seed gives the same query_mix pass") {
    assert(Workloads.sample(costs, 7L, 6) == Workloads.sample(costs, 7L, 6))
    assert(Workloads.sample(costs.toSeq.reverse.toMap, 7L, 6) ==
      Workloads.sample(costs, 7L, 6))
  }

  test("a different seed gives a different query_mix pass order") {
    val passes = (1L to 20L).map(s => Workloads.sample(costs, s, 6))
    assert(passes.distinct.size > 15)
  }

  test("the panel is the middle query of each cost stratum") {
    val sorted = costs.toSeq.sortBy { case (n, c) => (c, n) }.map(_._1)
    val ranks = Workloads.sample(costs, 3L, 6).map(sorted.indexOf).sorted
    assert(ranks == Seq(22, 67, 112, 157, 202, 247))
    assert((1L to 20L).map(s => Workloads.sample(costs, s, 6).toSet).distinct.size == 1)
  }

  test("self time subtracts the children's union, counted once") {
    // root [0,100) with children [10,30) and [20,50), which overlap, and a
    // grandchild [12,18) that only reduces its own parent's self time
    val spans = Seq(
      Span(0, -1, "op", "q", 0, 100),
      Span(1, 0, "construct", "q", 10, 30),
      Span(2, 0, "execute", "q", 20, 50),
      Span(3, 1, "inner", "q", 12, 18))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 60L, 1 -> 14L, 2 -> 30L, 3 -> 6L))
  }

  test("self time clips children to the parent and is never negative") {
    val spans = Seq(
      Span(0, -1, "op", "q", 0, 10),
      Span(1, 0, "late", "q", 5, 40),
      Span(2, 0, "early", "q", -5, 2))
    val self = Spans.selfTimes(spans)
    assert(self(0) == 3L)
    assert(self.values.forall(_ >= 0L))
  }

  private val cols = Seq("b", "a", "c")
  private val rows = Seq(
    Row(1L, "x", 0.1 + 0.2), Row(2L, "y", null), Row(2L, "y", null),
    Row(3L, "z", Double.NaN), Row(4L, "w", -0.0))

  test("the fingerprint ignores row order") {
    val fp = Fingerprint.of(cols, rows.iterator)
    assert(Fingerprint.of(cols, rows.reverseIterator) == fp)
    assert(Fingerprint.of(cols, scala.util.Random.shuffle(rows).iterator) == fp)
    assert(fp.rows == 5L)
  }

  test("the fingerprint ignores column order and 1e-12 float noise") {
    val fp = Fingerprint.of(cols, rows.iterator)
    val swapped = rows.map(r => Row(r.get(1), r.get(0), r.get(2)))
    assert(Fingerprint.of(Seq("a", "b", "c"), swapped.iterator) == fp)
    val noisy = rows.map(r => r.get(2) match {
      case d: Double if !d.isNaN => Row(r.get(0), r.get(1), d + 1e-12)
      case _ => r
    })
    assert(Fingerprint.of(cols, noisy.iterator) == fp)
  }

  test("the fingerprint changes when one value or one duplicate changes") {
    val fp = Fingerprint.of(cols, rows.iterator)
    val edited = rows.updated(0, Row(1L, "x", 0.31))
    assert(Fingerprint.of(cols, edited.iterator) != fp)
    assert(Fingerprint.of(cols, rows.updated(1, Row(2L, "Y", null)).iterator) != fp)
    assert(Fingerprint.of(cols, rows.distinct.iterator) != fp)
  }

  test("a fingerprint survives its text form") {
    val fp = Fingerprint.of(cols, rows.iterator)
    assert(Fingerprint.parse(fp.render) == fp)
  }
}

package lakebench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness's own statistics and generators. Run with
  * `sbt -batch harness/test` from lakebench/.
  */
class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 50) == 2.5)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    // same as Python's statistics.quantiles(xs, n=4, method="inclusive")
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.percentile(xs, 75) == 3.25)
  }

  test("tail rule: the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentileOf(20000) == 99.0)
    assert(Stats.tailPercentileOf(1000) == 99.0)
    assert(Stats.tailPercentileOf(999) == 95.0) // 999 * 1 % = 9.99 < 10
    assert(Stats.tailPercentileOf(200) == 95.0)
    assert(Stats.tailPercentileOf(199) == 90.0)
    assert(Stats.tailPercentileOf(100) == 90.0)
    assert(Stats.tailPercentileOf(99) == 75.0)
    assert(Stats.tailPercentileOf(40) == 75.0)
    assert(Stats.tailPercentileOf(39) == 50.0)
    assert(Stats.tailPercentileOf(5) == 50.0) // too few for any tail: the median
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.tail(xs) == ((95.0, Stats.percentile(xs, 95))))
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    import Tracer.Span
    val spans = Seq(
      Span(1, 0, -1, "op", 0, 100),
      Span(1, 1, 0, "a", 10, 30),
      Span(1, 2, 0, "b", 20, 50), // overlaps a: covered [10, 50]
      Span(1, 3, 0, "c", 60, 70),
      Span(1, 4, 0, "d", 95, 120), // runs past the parent: only [95, 100]
      Span(1, 5, 1, "a.child", 12, 18))
    val self = Tracer.selfTimes(spans).toMap
    assert(self("op") == 100 - 40 - 10 - 5)
    assert(self("a") == 20 - 6)
    assert(self("b") == 30)
    assert(self("d") == 25)
    assert(self("a.child") == 6)
  }

  test("tracer records nested spans with parents, and nothing when disabled") {
    val t = new Tracer(true)
    t.newTrace()
    t.span("outer")(t.span("inner")(()))
    val Seq(outer, inner) = t.all
    assert(outer.name == "outer" && outer.parent == -1)
    assert(inner.name == "inner" && inner.parent == outer.id && inner.trace == outer.trace)
    val off = new Tracer(false)
    assert(off.span("x")(41 + 1) == 42)
    assert(off.all.isEmpty)
  }

  test("open-loop latency counts from the due time, so a stall bills every item it delayed") {
    // ticks due every 10 ms; the sender stalls 25 ms before the second send
    val due = Seq(0.0, 10.0, 20.0)
    val sent = Seq(0.0, 35.0, 36.0)
    val done = Seq(40.0, 45.0, 46.0)
    val (latency, late) = Stats.openLoop(due, sent, done)
    assert(latency == Seq(40.0, 35.0, 26.0))
    assert(late == Seq(0.0, 25.0, 16.0))
    // a closed-loop view (done - sent) would have hidden the stall
    assert(latency.zip(sent.zip(done).map { case (s, d) => d - s }).forall { case (a, b) => a >= b })
  }

  test("the desk op sequence is a pure function of the seed, in the stated mix") {
    def ops(seed: Long) = { val s = new Desk.OpSeq(seed); Seq.fill(20000)(s.next()) }
    val a = ops(7)
    assert(a == ops(7))
    assert(a != ops(8))
    val share = a.groupBy(_.kind).map { case (k, v) => k -> v.size / 20000.0 }
    assert(share == Map("point" -> 0.5, "range" -> 0.2, "agg" -> 0.2, "append" -> 0.1))
    // every block of twenty carries the whole mix
    assert(a.grouped(20).forall(_.count(_.kind == "point") == 10))
    val points = a.collect { case p: Point => p }
    assert(math.abs(points.count(_.day == Desk.Days - 1).toDouble / points.size - 0.7) < 0.03)
    assert(Desk.bar(3, 5, 6, 7) == Desk.bar(3, 5, 6, 7))
  }

  test("the feed is a pure function of the seed with exactly one invalid bar in 1,000") {
    def lines(seed: Long) = {
      val sb = new java.lang.StringBuilder
      (0L until 5000L).foreach(i => FeedGen.line(sb, seed, i, (i % FeedGen.Symbols).toInt, 1000L))
      sb.toString.split('\n').toSeq
    }
    val a = lines(11)
    assert(a == lines(11))
    assert(a != lines(12))
    def invalid(l: String) = { val f = l.split(','); f(3).toDouble < f(4).toDouble }
    assert(a.count(invalid) == 5)
    assert(a.zipWithIndex.forall { case (l, i) => invalid(l) == FeedGen.invalid(11, i.toLong) })
  }

  test("result hash ignores row order and floating-point summation noise") {
    val rows = Array(Row("a", 1L, 0.1 + 0.2), Row("b", 2L, 1.5), Row("c", null, Seq(1.0, 2.0)))
    assert(ResultHash.of(rows) == ResultHash.of(rows.reverse))
    assert(ResultHash.of(Array(Row("a", 1L, 0.3))) == ResultHash.of(Array(Row("a", 1L, 0.1 + 0.2))))
    assert(ResultHash.of(rows) != ResultHash.of(rows.take(2)))
    assert(ResultHash.of(Array(Row("a", 1L, 0.3))) != ResultHash.of(Array(Row("a", 1L, 0.31))))
  }

  test("catalog documents have the sf0.1 shape: 10-100 words of 30, 5 % marked near-duplicates") {
    val t = Fixture.texts(new java.util.SplittableRandom(Fixture.Seed))
    assert(t.size == Fixture.Docs)
    val base = t.map(_.split(' ').filter(_ != "dup"))
    assert(base.forall(w => w.length >= 10 && w.length <= 100))
    assert(base.flatten.distinct.size == 30)
    val dups = t.count(_.endsWith(" dup"))
    assert(dups > 200 && dups < 300, s"$dups near-duplicates")
    // each is another document plus the marker; as in sf0.1, a few bases
    // were themselves overwritten by a later copy
    val based = t.filter(_.endsWith(" dup")).count(d => t.contains(d.dropRight(4)))
    assert(based > dups * 95 / 100, s"$based of $dups near-duplicates have their base")
  }
}

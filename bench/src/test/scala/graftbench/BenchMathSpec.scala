package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class BenchMathSpec extends AnyFunSuite {

  test("nearest-rank percentile and the ten-samples-beyond rule") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 20.0)
    assert(Stats.percentile(xs, 0.75) == 30.0)
    assert(Stats.percentile(xs, 1.0) == 40.0)
    assert(Stats.beyond(40, 0.75) == 10)
    assert(Stats.reportable(40, 0.75))
    assert(!Stats.reportable(39, 0.75))
    assert(Stats.reportable(1000, 0.99) && !Stats.reportable(999, 0.99))
    assert(Stats.reportable(20, 0.5) && !Stats.reportable(19, 0.5))
    assert(Stats.tailRank(1020).contains(0.99))
    assert(Stats.tailRank(540).contains(0.95))
    assert(Stats.tailRank(40).contains(0.75))
    assert(Stats.tailRank(21).contains(0.5))
    assert(Stats.tailRank(12).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-12)
  }

  private def span(id: Long, parent: Long, s: Long, e: Long) =
    Span(id, parent, 1, s"s$id", s, e)

  test("self time counts overlapping children once and clips to the parent") {
    val p = span(1, 0, 0, 100)
    assert(Trace.selfNs(p, Nil) == 100)
    // children [10,30) and [20,50) overlap: together they cover [10,50)
    assert(Trace.selfNs(p, Seq(span(2, 1, 10, 30), span(3, 1, 20, 50))) == 60)
    // a child nested in another adds nothing
    assert(Trace.selfNs(p, Seq(span(2, 1, 10, 50), span(3, 1, 20, 30))) == 60)
    // disjoint children, one running past the parent's end
    assert(Trace.selfNs(p, Seq(span(2, 1, 0, 10), span(3, 1, 90, 130))) == 80)
  }

  test("tracer records parents, traces and nothing when disabled") {
    val off = new Tracer(false)
    assert(off.span("x")(42) == 42 && off.all.isEmpty)
    val t = new Tracer(true)
    t.span("root", root = true) { t.span("child")(()) }
    t.span("other", root = true)(())
    val Seq(child, other, root) = t.all.sortBy(_.name)
    assert(child.parent == root.id && child.traceId == root.traceId)
    assert(root.parent == 0 && other.parent == 0 && other.traceId != root.traceId)
  }

  test("result hash ignores row and column order and float noise") {
    val a = Seq(Row(1L, "x", 0.1 + 0.2), Row(2L, null, 1.5))
    val b = Seq(Row(1.5, null, 2L), Row(0.3, "x", 1L))
    assert(Canon.hash(Seq("k", "s", "v"), a) == Canon.hash(Seq("v", "s", "k"), b))
    assert(Canon.hash(Seq("k", "s", "v"), a) !=
      Canon.hash(Seq("k", "s", "v"), Seq(Row(1L, "x", 0.31), Row(2L, null, 1.5))))
    // a duplicated row is content, not noise
    assert(Canon.hash(Seq("k"), Seq(Row(1L))) != Canon.hash(Seq("k"), Seq(Row(1L), Row(1L))))
    assert(Canon.cell(-0.0) == Canon.cell(0.0))
    assert(Canon.cell(Seq(1.0, 2.5)) == "[1,2.5]")
    assert(Canon.cell(Map("b" -> 1, "a" -> 2)) == "{a:2,b:1}")
  }

  test("normal-equations OLS recovers an exact linear model") {
    val rows = for (i <- 0 until 30) yield {
      val x1 = i.toDouble; val x2 = (i * 7 % 11).toDouble; val x3 = math.sqrt(i)
      Array(x1, x2, x3, 2.0 * x1 - 3.0 * x2 + 0.5 * x3 + 4.0)
    }
    val (b, c) = Ols.fit(rows)
    assert(b.zip(Seq(2.0, -3.0, 0.5)).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    assert(math.abs(c - 4.0) < 1e-9)
  }
}

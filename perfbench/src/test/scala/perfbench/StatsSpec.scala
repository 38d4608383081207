package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val t = Stats.tail(xs).get
    // 10 samples (91..100) lie beyond 90, and none beyond a higher rank
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    assert(t.samples == 100)
    assert(xs.count(_ > t.value) == 10)
  }

  test("tail: order of the samples does not matter; 11 samples is the minimum") {
    val xs = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0)
    val t = Stats.tail(scala.util.Random.shuffle(xs)).get
    assert(t.value == 1.0)
    assert(math.abs(t.percentile - 100.0 / 11) < 1e-9)
    assert(Stats.tail(xs.take(10)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail: ties count as samples beyond only when strictly larger") {
    val xs = Seq.fill(20)(1.0) ++ Seq.fill(10)(2.0)
    val t = Stats.tail(xs).get
    assert(t.value == 1.0)
    assert(xs.count(_ > t.value) == 10)
  }

  test("unionLength: overlapping, nested and touching intervals count once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((10L, 20L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 1L), (5L, 6L), (3L, 4L))) == 3L)
    // an unfinished job (end < start) covers nothing
    assert(Stats.unionLength(Seq((0L, 4L), (10L, -1L))) == 4L)
  }

  test("unionLength: driver gap = wall minus the union of job intervals") {
    val wall = 100L
    val jobs = Seq((10L, 30L), (20L, 40L), (60L, 70L))
    assert(wall - Stats.unionLength(jobs) == 60L)
  }

  test("median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}

class SpanSpec extends AnyFunSuite {

  private def sp(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, s"s$id", parent, 0, start, end)

  test("self time: duration minus the part child spans cover") {
    val spans = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 30), sp(2, 0, 50, 60))
    val self = Span.selfTimes(spans)
    assert(self(0) == 70L)
    assert(self(1) == 20L)
    assert(self(2) == 10L)
  }

  test("self time: overlapping children count once; grandchildren belong to their parent") {
    val spans = Seq(
      sp(0, -1, 0, 100), sp(1, 0, 10, 50), sp(2, 0, 40, 60), sp(3, 1, 20, 30))
    val self = Span.selfTimes(spans)
    assert(self(0) == 50L) // children cover 10..60
    assert(self(1) == 30L) // 40 minus its child's 10
    assert(self(3) == 10L)
  }

  test("self time: a child running past its parent only covers the overlap") {
    val spans = Seq(sp(0, -1, 0, 10), sp(1, 0, 5, 20))
    assert(Span.selfTimes(spans)(0) == 5L)
  }

  test("a disabled tracer runs the body and records nothing") {
    val t = new Tracer(false, throw new IllegalStateException("no context needed"))
    assert(t.span("x")(41 + 1) == 42)
    assert(t.spans.isEmpty)
  }
}

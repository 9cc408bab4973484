package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic, without Spark or input data:
  * {{{ cd perfbench && sbt test }}} */
class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0, 2.0), 75) == 3.0)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.supported(100, 90))
    assert(!Stats.supported(99, 90))
    assert(!Stats.supported(39, 75) && Stats.supported(40, 75))
    assert(!Stats.supported(0, 50))
  }

  test("union of job intervals: overlap, nesting, touching, gaps") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("driver gap is wall time not covered by any job") {
    assert(Stats.driverGap(0, 100, Nil) == 100)
    assert(Stats.driverGap(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    // jobs sticking out of the operation count only inside it
    assert(Stats.driverGap(0, 100, Seq((-50L, 10L), (90L, 150L))) == 80)
    assert(Stats.driverGap(0, 100, Seq((200L, 300L))) == 100)
    assert(Stats.clip(Seq((-5L, 5L), (8L, 20L)), 0, 10) ==
      Seq((0L, 5L), (8L, 10L)))
  }

  test("byte totals and ratios") {
    assert(Stats.mb(1L << 20) == 1.0)
    assert(Stats.mb(3L << 19) == 1.5)
    assert(Stats.ratio(3, 2) == 1.5)
    assert(Stats.ratio(3, 0) == 0.0)
    val a = new Trace.TaskAgg
    a.tasks = 2; a.runMs = 10; a.shuffleWrite = 100; a.input = 1000
    val b = new Trace.TaskAgg
    b.tasks = 3; b.failures = 1; b.runMs = 5; b.shuffleRead = 40
    b.output = 500; b.spill = 7
    a.merge(b)
    assert(a.tasks == 5 && a.failures == 1 && a.runMs == 15)
    assert(a.shuffleWrite == 100 && a.shuffleRead == 40 && a.spill == 7)
    assert(a.input == 1000 && a.output == 500)
  }

  test("events attribute to operations by tag, else by time") {
    val ops = Seq(Stats.Op(0, 0, 100, Some("q0")),
      Stats.Op(1, 100, 200, Some("q1")), Stats.Op(2, 300, 400))
    assert(Stats.attribute(ops, Some("q1"), 50).contains(1))
    assert(Stats.attribute(ops, None, 50).contains(0))
    assert(Stats.attribute(ops, Some("elsewhere"), 350).contains(2))
    // a boundary instant belongs to the operation that starts there
    assert(Stats.attribute(ops, None, 100).contains(1))
    assert(Stats.attribute(ops, None, 250).isEmpty)
    assert(Stats.attribute(Nil, Some("q0"), 0).isEmpty)
  }

  test("an operation's jobs give its job time and driver gap") {
    val t = new Trace.OpTrace(Stats.Op(0, 1000, 2000))
    t.jobs += Trace.JobRec(1, None, 1100, 1300)
    t.jobs += Trace.JobRec(2, None, 1200, 1400)
    // a job still running when the operation ended counts up to its end
    t.jobs += Trace.JobRec(3, None, 1900, -1)
    assert(t.wallMs == 1000)
    assert(t.jobMs == 400)
    assert(t.driverGapMs == 600)
  }

  test("steal share between two /proc/stat readings") {
    assert(Host.stealPct(Some((10L, 1000L)), Some((20L, 2000L))) == 1.0)
    assert(Host.stealPct(None, Some((20L, 2000L))) == 0.0)
    assert(Host.stealPct(Some((10L, 1000L)), Some((10L, 1000L))) == 0.0)
  }

  test("row digests ignore order and see every value") {
    import org.apache.spark.sql.Row
    val a = Seq(Row(1, "x"), Row(2, null))
    assert(Main.digest(a) == Main.digest(a.reverse))
    assert(Main.digest(a) != Main.digest(Seq(Row(1, "x"), Row(2, "y"))))
    assert(Main.digest(a)._1 == 2)
  }

  test("operations that threw stay out of rates and latencies") {
    def op(id: Int, start: Long, end: Long, docs: Long) =
      new OpRes(Stats.Op(id, start, end), s"op$id", docs)
    val threw = Main.timed(3, "op3", 500)(throw new RuntimeException("x"))
    assert(threw.failed && threw.docs == 0)
    val done = Seq(op(0, 0, 1000, 100), op(1, 1000, 3000, 100),
      op(2, 3000, 4000, 100))
    val checkedBad = done(2)
    checkedBad.failed = true
    val w = Window(done :+ new OpRes(Stats.Op(3, 4000, 6000), "op3", 0L,
      failed = true, error = Some("x")), 6000)
    val e = Main.endToEnd(w, 1.0)
    // 4 s of completed work: the 2 s of the thrown one are taken out
    assert(e.n == 3)
    assert(e.opsPerS == 3 / 4.0)
    assert(e.docsPerS == 300 / 4.0)
    assert(e.p50 == 1000.0 && e.tail == 2000.0)
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it, with its count") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == Some(Stats.Pct(90.0, 100)))
    assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.percentile((1 to 1000).map(_.toDouble), 0.99) == Some(Stats.Pct(990.0, 1000)))
    assert(Stats.percentile((1 to 999).map(_.toDouble), 0.99).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 0.5) == Some(Stats.Pct(10.0, 20)))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    assert(Stats.percentile(Nil, 0.5).isEmpty)
    // order of the input does not matter
    assert(Stats.percentile(xs.reverse, 0.9).map(_.value) == Some(90.0))
  }

  test("a failed request, entered as +infinity, lands in the tail") {
    val xs = Seq.fill(990)(1.0) ++ Seq.fill(10)(Double.PositiveInfinity)
    assert(Stats.percentile(xs, 0.99).map(_.value) == Some(1.0))
    val more = Seq.fill(989)(1.0) ++ Seq.fill(11)(Double.PositiveInfinity)
    assert(Stats.percentile(more, 0.99).map(_.value) == Some(Double.PositiveInfinity))
  }

  test("the job-interval union counts overlapping jobs once") {
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (20L, 30L))) == 20)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15)
    assert(Stats.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    // the plain sum would double-count the overlap
    val jobs = Seq((0L, 600L), (100L, 700L), (650L, 900L))
    assert(jobs.map { case (s, e) => e - s }.sum == 1450)
    assert(Stats.unionLength(jobs) == 900)
    assert(Stats.coveredWithin(jobs, 200L, 800L) == 600)
  }

  test("an open-loop schedule is evenly spaced; latency runs from the due time") {
    val due = Stats.schedule(1000L, 1000.0, 0.01)
    assert(due == (0 until 10).map(i => 1000L + i * 1000000L))
    val r = ServingWorkload.Req("p", 0, dueMs = 10.0, sentMs = 13.0, doneMs = 15.0, 200, 0L, 1)
    assert(r.latencyMs == 5.0 && r.lagMs == 3.0)
  }
}

package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a throwing op counts one failure and contributes no timing sample") {
    val rec = new Recorder
    val out = rec.attempt(Op[Int]("q", () => throw new RuntimeException("boom"),
      _ => Right(Outcome(1.0))))
    assert(out.isEmpty)
    assert(rec.attempted == 1 && rec.failed == 1)
    assert(rec.secs("q").isEmpty && rec.work("q") == 0.0)
    assert(rec.failures.head.contains("boom"))
  }

  test("an op whose output fails its check counts as failed, not timed") {
    val rec = new Recorder
    rec.attempt(Op[Int]("q", () => 41, n => if (n == 42) Right(Outcome(1.0)) else Left(s"got $n")))
    assert(rec.attempted == 1 && rec.failed == 1 && rec.secs("q").isEmpty)
  }

  test("a passing op records its sample, work and derived samples") {
    val rec = new Recorder
    val out = rec.attempt(Op[Int]("q", () => 42, _ => Right(Outcome(3.0, Seq("part" -> 0.5)))))
    assert(out.contains(42))
    assert(rec.attempted == 1 && rec.failed == 0)
    assert(rec.secs("q").size == 1 && rec.work("q") == 3.0 && rec.secs("part") == Seq(0.5))
  }

  test("the closed loop issues ops one after another until the deadline") {
    val rec = new Recorder
    var inFlight = 0
    val n = Harness.closedLoop(0.05, rec) { _ =>
      rec.attempt(Op[Unit]("q", () => { inFlight += 1; assert(inFlight == 1); Thread.sleep(5); inFlight -= 1 },
        _ => Right(Outcome(1.0))))
    }
    assert(n >= 2 && rec.secs("q").size == n && rec.failed == 0)
  }

  test("quantiles interpolate linearly") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0, 4.0)) == 2.5)
    assert(Harness.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("self time subtracts the union of child intervals") {
    val t = new Tracer(true, "t")
    val parent = Span(1, "op", "op", 0, 100, 0, "t")
    val kids = Seq(Span(2, "j", "job", 10, 30, 1, "t"), Span(3, "j", "job", 20, 50, 1, "t"),
      Span(4, "j", "job", 90, 120, 1, "t"))
    assert(t.uncovered(parent, kids) == 100 - 40 - 10)
  }
}

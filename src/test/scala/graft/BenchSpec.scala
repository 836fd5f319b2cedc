package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's runs policy without Spark: a scripted `run()` stands in for one
  * timed query run, so the run count, median and failure contract are
  * pinned exactly. */
class BenchSpec extends AnyFunSuite {

  /** A run closure that replays `script` (seconds; `None` throws) and counts calls. */
  private final class Script(script: Option[Double]*) {
    var calls = 0
    def run(): Double = {
      val r = script(calls); calls += 1
      r.getOrElse(throw new IllegalStateException(s"run $calls failed"))
    }
  }

  test("runs of 2 s or more get 3 runs and report their median, min and max") {
    val s = new Script(Some(2.5), Some(3.4), Some(2.0))
    assert(Bench.timeRuns(() => s.run()) == Bench.QStat(2.5, 2.0, 3.4, 3))
    assert(s.calls == 3)
  }

  test("any run under 2 s promotes the query to 5 runs, wherever it falls") {
    val first = new Script(Some(1.2), Some(2.8), Some(2.6), Some(3.0), Some(2.2))
    assert(Bench.timeRuns(() => first.run()) == Bench.QStat(2.6, 1.2, 3.0, 5))
    assert(first.calls == 5)
    // the third (last base) run decides: still promoted
    val last = new Script(Some(2.5), Some(2.7), Some(1.9), Some(2.1), Some(2.4))
    assert(Bench.timeRuns(() => last.run()) == Bench.QStat(2.4, 1.9, 2.7, 5))
    assert(last.calls == 5)
  }

  test("a throwing run records -1 and the first error, and stops the query") {
    val s = new Script(Some(0.4), None, Some(0.4), None)
    val stat = Bench.timeRuns(() => s.run())
    assert(stat == Bench.QStat(-1.0, -1.0, -1.0, 5, Some("run 2 failed")))
    assert(s.calls == 2)
    // a message-less exception reports its class name
    val bare = Bench.timeRuns(() => throw new ArithmeticException())
    assert(bare.error.contains("java.lang.ArithmeticException"))
    assert(bare.runs == 3 && bare.median == -1.0)
  }

  test("the retry rule picks max/min > 3 with max > 0.5 s, never 20 ms-scale jitter") {
    // one material spike among five runs: re-timed once post-suite
    val spike = new Script(Some(0.208), Some(0.220), Some(0.811), Some(0.210), Some(0.215))
    val stat = Bench.timeRuns(() => spike.run())
    assert(stat.median == 0.215 && Bench.unstable(stat))
    // 10 ms -> 45 ms is 4.5x but immaterial
    assert(!Bench.unstable(Bench.QStat(0.02, 0.01, 0.045, 5)))
    // material but not wild: max/min exactly 3 does not qualify
    assert(!Bench.unstable(Bench.QStat(1.0, 0.5, 1.5, 5)))
    assert(Bench.unstable(Bench.QStat(1.0, 0.5, 1.51, 5)))
    // a failed query is never a retry target
    assert(!Bench.unstable(Bench.QStat(-1.0, -1.0, -1.0, 3, Some("boom"))))
  }
}

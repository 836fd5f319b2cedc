package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Sampler's loop without Spark: a failing sample is counted against
  * its own (target, arm) cell and never stops the other arms' samples. */
class SamplerSpec extends AnyFunSuite {

  test("an arm that throws on every run is counted failed; the other arm keeps all its samples") {
    val runs = 4
    val targets = Seq("t1", "t2")
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val cells = Sampler.sample(runs, Seq("bad", "good"), targets) { (t, a) =>
      calls += ((t, a))
      if (a == "bad") throw new IllegalArgumentException(s"invalid arm $a")
      0.25
    }
    // warm-up once per (arm, target), then every timed sample was attempted
    assert(calls.size == (runs + 1) * 2 * targets.size)
    assert(cells.map(c => (c.target, c.arm)) ==
      Seq(("t1", "bad"), ("t1", "good"), ("t2", "bad"), ("t2", "good")))
    for (c <- cells) {
      if (c.arm == "good") {
        assert(c.samples == Vector.fill(runs)(0.25) && c.failed == 0, c)
        assert(Sampler.render(c) == s"${c.target},good,0.250,0.250,0.250,$runs,0")
      } else {
        assert(c.samples.isEmpty && c.failed == runs, c)
        assert(Sampler.render(c) == s"${c.target},bad,NA,NA,NA,0,$runs")
      }
    }
  }

  test("arms alternate within each round (interleaved, not arm-after-arm)") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    Sampler.sample(2, Seq("a", "b"), Seq("t")) { (_, a) => order += a; 1.0 }
    assert(order.toSeq == Seq("a", "b", "a", "b", "a", "b"))
  }
}

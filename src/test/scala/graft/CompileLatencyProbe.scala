package graft

import org.scalatest.funsuite.AnyFunSuite

/** Profiling probe for compile latency (VERDICT r2 #8): prints the parse vs
  * plan-build split via the same measurement code the bench publishes
  * (Bench.measureCompileLatency), so the numbers are directly comparable.
  * Informative, not a regression gate. */
class CompileLatencyProbe extends AnyFunSuite {

  test("profile parse vs lower vs sqlgen vs analyzed-total time") {
    val spark = TestSpark.spark
    val (src, parseUs, lowerUs, sqlgenUs, totalUs) = Bench.measureCompileLatency(spark)
    info(f"query: $src, parse: $parseUs%.1f us, lower(unresolved plan): $lowerUs%.1f us, " +
      f"sqlgen(text artifact): $sqlgenUs%.1f us, analyzed total: $totalUs%.1f us, " +
      f"analyzer share: ${totalUs - lowerUs}%.1f us")
    println(f"[probe] src=$src parse=$parseUs%.1f lower=$lowerUs%.1f sqlgen=$sqlgenUs%.1f total=$totalUs%.1f us")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r14 bench-harness budget-pacing and inflation-normalization
  * decision functions (pure logic — no Spark). The scenarios mirror the
  * committed-median simulation that motivated the change: a uniformly
  * slow environment (the driver's lower-core scaling run) must shed
  * SECOND SAMPLES, not queries. r15: the pacing inflation numerator is
  * the capped charge of FIRST samples only (second samples and
  * adjudication re-measures no longer inflate the estimate), and
  * envInflation is the true median for even sizes. The baseline itself
  * is only used when it was taken at the same sf and core count.
  */
class BenchPacingSpec extends AnyFunSuite {

  /** `committedMedians` over a baseline file holding `fields`. */
  private def medians(fields: String): Map[String, Double] = {
    val f = java.nio.file.Files.createTempFile("bench_baseline", ".json")
    try {
      java.nio.file.Files.writeString(f, s"""{"queries":{"q_a":1.5},$fields}""")
      Bench.committedMedians(f.toString, "/sf", "4")
    } finally java.nio.file.Files.delete(f)
  }

  test("baseline at the same sf and core count is used") {
    assert(medians(""""sf":"/sf","cpus":"4"""") == Map("q_a" -> 1.5))
  }

  test("baseline at a different core count or sf is refused") {
    assert(medians(""""sf":"/sf","cpus":"32"""").isEmpty)
    assert(medians(""""sf":"/other","cpus":"4"""").isEmpty)
  }

  test("baseline that records no core count is refused") {
    assert(medians(""""sf":"/sf"""").isEmpty)
  }

  test("no baseline: falls back to the r13 wallSpent<=budget rule") {
    assert(Bench.allowSecondSample(599.0, 599.0, 0.0, 0.0, 1.0, 600.0))
    assert(!Bench.allowSecondSample(600.1, 600.1, 0.0, 0.0, 1.0, 600.0))
  }

  test("quiet epoch: projection fits, second samples granted") {
    // halfway through: 140s charged over 140s committed (inflation 1.0),
    // 140s committed remaining, next sample ~2s -> 282 <= 600
    assert(Bench.allowSecondSample(140.0, 140.0, 140.0, 280.0, 2.0, 600.0))
  }

  test("uniform 2x inflation: second samples shed early, before the " +
       "old 1.0x-budget crossing") {
    // 2x environment observed over the first 100s of committed cost:
    // 200s of first samples charged. Remaining 180s committed projects
    // to 360s more; 200 + 4 + 360 > 600 at budget 560 -> deny (old rule
    // would still grant: wallSpent 200 < budget)
    assert(!Bench.allowSecondSample(200.0, 200.0, 100.0, 280.0, 4.0, 560.0))
    // same state with a big budget -> grant
    assert(Bench.allowSecondSample(200.0, 200.0, 100.0, 280.0, 4.0, 2000.0))
  }

  test("inflation numerator counts first samples only: sampling " +
       "multiplicity no longer masquerades as environment slowdown") {
    // quiet epoch, but the cheap head was double-sampled: total charged
    // wall 200s while FIRST samples charged only 100s over 100s
    // committed (true inflation 1.0). Projection 200 + 4 + 180*1.0 =
    // 384 <= 560 -> grant. The pre-r15 conflated estimate (200/100 =
    // 2x) denied this exact state (previous test, first assertion).
    assert(Bench.allowSecondSample(200.0, 100.0, 100.0, 280.0, 4.0, 560.0))
  }

  test("projection counts the prospective sample at its charge cap") {
    // boundary: 300 charged over 300 committed (inflation 1.0), 290
    // committed remaining, budget 600: nextCharge 10 fits exactly
    // (300 + 10 + 290 = 600), 10.1 does not
    assert(Bench.allowSecondSample(300.0, 300.0, 300.0, 590.0, 10.0, 600.0))
    assert(!Bench.allowSecondSample(300.0, 300.0, 300.0, 590.0, 10.1, 600.0))
  }

  test("first measured query (committedDone=0 with a baseline) is " +
       "always granted its reps") {
    assert(Bench.allowSecondSample(0.3, 0.3, 0.0, 280.0, 0.3, 600.0))
  }

  test("envInflation: median ratio, floored at 1.0, empty-safe") {
    assert(Bench.envInflation(Nil) == 1.0)
    // quiet epoch: ratios hover around 1, median below 1 floors to 1
    assert(Bench.envInflation(Seq(0.8, 0.9, 1.1)) == 1.0)
    // uniformly slow environment: median carries the factor
    assert(Bench.envInflation(Seq(1.9, 2.1, 2.3)) == 2.1)
    // one genuine spike does not drag the median up
    assert(Bench.envInflation(Seq(1.0, 1.0, 1.1, 1.2, 90.0)) == 1.1)
    // even size: true median (average of the two middle elements), not
    // the upper-middle element (ADVICE r14)
    assert(Bench.envInflation(Seq(1.0, 3.0)) == 2.0)
    assert(Bench.envInflation(Seq(0.5, 1.0, 2.0, 90.0)) == 1.5)
  }
}

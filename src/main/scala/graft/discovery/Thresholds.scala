package graft.discovery

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.eval.OracleRound

/** Corpus-level threshold discovery — reference-parity port of the
  * threshold-identification logic (M8,
  * /root/reference/backendClasses/DQTestToolHelper.py:167-198), specified
  * as a *total* function over Options (the reference leaves the
  * no-actual-faults branches to pandas NaN truthiness; we make them
  * explicit and table-test all branches).
  *
  * a = min score over confirmed-fault rows, b = max over confirmed-fault,
  * c = min over valid/clean, d = max over valid/clean.
  */
object Thresholds {

  final case class Inputs(
      nKnownFaults: Long,
      n: Long,
      p95: Double,
      pKnown: Double, // percentile(scores, 100 - 100*k/n); == max score when k == 0
      a: Option[Double],
      b: Option[Double],
      d: Option[Double])

  /** Faulty threshold (drop when score >= threshold; the engine
    * standardizes the reference's mixed >=/> on >=, SURVEY.md §4). */
  def faultyThreshold(in: Inputs): Double = {
    var t = if (in.nKnownFaults > 0) in.pKnown else in.p95
    (in.a, in.b, in.d) match {
      case (Some(a), Some(b), Some(d)) if b != 0.0 && b > d =>
        if (d > a && d < b) t = math.max(a, t)
        else if (a >= d) t = math.min(a, in.pKnown)
      case _ => ()
    }
    t
  }

  /** One-pass grouped min/max per status class (replaces the reference's
    * four full scans, DQTestToolHelper.py:175-182) plus one percentile
    * job; returns (faultyThreshold, normalThreshold=median). `n` is the
    * row count of `scored`, which every caller already knows, so no
    * count job is spent here.
    *
    * The percentile is `percentile_approx` (a mergeable KLL-style
    * sketch, accuracy 10000: partial-aggregated per partition, merged in
    * constant space), not the reference's exact `np.percentile`
    * (DQTestToolHelper.py:171-173): Spark's exact `Percentile` buffers
    * the whole value multiset on ONE reducer — an OOM at 10^12 rows and
    * a serial bottleneck at any scale (SURVEY.md §2 A3). */
  def discover(
      scored: DataFrame,
      scoreCol: String,
      statusCol: String,
      nKnownFaults: Long,
      n: Long): (Double, Double) = {
    val pKnownFrac = if (n > 0) 1.0 - nKnownFaults.toDouble / n.toDouble else 1.0
    // ONE aggregation job computes the percentile sketch AND the
    // per-status-class min/max (conditional aggregates) — the class
    // grouping has 3 fixed classes, so conditional min/max in a global
    // agg replaces a second full pass + shuffle.
    val isAf = OracleRound.confirmed(col(statusCol))
    val isVc = OracleRound.believedClean(col(statusCol))
    val s = col(scoreCol)
    // percentile_approx returns an ACTUAL data value, and score
    // distributions plateau heavily (greatest() over few rules), so the
    // value at rank 1−k/n can be the top CLEAN plateau — with >= drop
    // semantics that would drop every row tied at that value. The exact
    // percentile avoids this by *interpolating* into the clean/faulty
    // gap (np.percentile semantics the reference relies on,
    // DQTestToolHelper.py:171-173). Recover the same effect sketch-side:
    // query half a fault-fraction below and above the calibrated rank
    // and take the midpoint — lands mid-gap whenever the classes
    // separate, degrades to the plain sketch value when they don't.
    val delta = if (nKnownFaults > 0 && n > 0)
      nKnownFaults.toDouble / n.toDouble / 2.0 else 0.0
    val pLo = math.max(0.0, pKnownFrac - delta)
    val pHi = math.min(1.0, pKnownFrac + delta)
    val row = scored.agg(
      expr(s"percentile_approx($scoreCol, array(0.95D, $pLo, $pHi, 0.5D), 10000)")
        .as("ps"),
      min(when(isAf, s)).as("af_mn"), max(when(isAf, s)).as("af_mx"),
      max(when(isVc, s)).as("vc_mx")).head()
    val raw = row.getSeq[Double](0)
    val pKnown = if (raw(2) > raw(1)) (raw(1) + raw(2)) / 2.0 else raw(2)
    def opt(i: Int): Option[Double] = if (row.isNullAt(i)) None else Some(row.getDouble(i))
    val in = Inputs(
      nKnownFaults = nKnownFaults,
      n = n,
      p95 = raw(0),
      pKnown = pKnown,
      a = opt(1),
      b = opt(2),
      d = opt(3))
    (faultyThreshold(in), raw(3))
  }
}

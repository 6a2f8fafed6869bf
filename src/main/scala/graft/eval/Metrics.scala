package graft.eval

/** Audit-metric formulas, column-for-column the reference `scores` table
  * (/root/reference/schema.sql:7-19) with exact fraction parity:
  * Evaluation.py:6-38 and DQTestToolHelper.py:211-238. All pure functions
  * of set cardinalities — [[OracleRound]] computes the counts as
  * conditional aggregates on the executors and only the scalars reach
  * the driver.
  */
object Metrics {

  final case class RunMetrics(
      run: Int,
      previouslyDetected: Double, // PD = |E ∩ A| / |E|
      suspiciousDetected: Double, // SD = |A − E| / |A|
      undetected: Double, // UD = |E − A| / |E|
      newlyDetected: Double, // ND = |AF − E| / |A|
      truePositiveRate: Double, // |AF| / |faulty rows|
      falsePositiveRate: Double, // 1 − TPR
      trueNegativeRate: Double, // 1 − FNR
      falseNegativeRate: Double, // |AFold − AFnew| / |AFold|
      tpgr: Double = 0.0) // TPGR over rounds 1..run (Evaluation.py:25-30)

  /** PD (Evaluation.py:7-12). */
  def previouslyDetected(eCount: Long, eInterA: Long): Double =
    if (eCount > 0) eInterA.toDouble / eCount.toDouble else 0.0

  /** SD/ND share one formula with TF = A or AF (Evaluation.py:14-16). */
  def newlyDetected(aCount: Long, tfMinusE: Long): Double =
    if (aCount > 0) tfMinusE.toDouble / aCount.toDouble else 0.0

  /** UD (Evaluation.py:19-23). */
  def undetected(eCount: Long, eMinusA: Long): Double =
    if (eCount > 0) eMinusA.toDouble / eCount.toDouble else 1.0

  /** TPR (DQTestToolHelper.py:211-214): confirmed-fault ids over faulty
    * rows detected this run; 0 when nothing confirmed yet. */
  def truePositiveRate(afUnique: Long, faultyRows: Long): Double =
    if (afUnique > 0 && faultyRows > 0) afUnique.toDouble / faultyRows.toDouble else 0.0

  /** FNR (DQTestToolHelper.py:217-223): fraction of previously confirmed
    * faults lost by this run's detection. */
  def falseNegativeRate(afOldMinusNew: Long, afOld: Long): Double =
    if (afOld > 0) afOldMinusNew.toDouble / afOld.toDouble else 0.0

  /** TPGR over the run history (Evaluation.py:25-30). Deliberate
    * divergence: the reference divides by tprs.head unguarded
    * (ZeroDivisionError when round 1 confirms nothing); a zero first
    * round reports growth 0.0 here instead of crashing the loop. */
  def truePositiveGrowthRate(tprs: Seq[Double]): Double = {
    require(tprs.nonEmpty)
    if (tprs.head <= 0.0) return 0.0
    val nr = tprs.length.toDouble
    math.pow(tprs.last / tprs.head, 1.0 / nr) - 1.0
  }

  /** Keep/drop F1 against the oracle labels (the BASELINE.md gate). */
  def f1(tp: Long, fp: Long, fn: Long): Double = {
    val p = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
    val r = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
    if (p + r > 0) 2 * p * r / (p + r) else 0.0
  }
}

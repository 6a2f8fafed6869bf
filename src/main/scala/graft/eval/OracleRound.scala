package graft.eval

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** One round of the oracle loop (testScript.py:38-40 confirm step and
  * the per-run metrics row, Evaluation.py:6-30 and
  * DQTestToolHelper.py:211-238), shared by every validation loop:
  *
  *  - the status vocabulary: `clean`, `valid`, `actualFaults_<r>`;
  *  - the confirm transition: suspicious∩known → `actualFaults_r`,
  *    suspicious∖known → `valid`, confirmed rows frozen;
  *  - the six counts the metric formulas consume, as named aggregates
  *    that ride whichever action the caller already runs (an
  *    [[Observation]]), so a round spends no job of its own on them, or
  *    that aggregate a checkpointed round's rows;
  *  - the [[Metrics.RunMetrics]] row built from those counts and the
  *    prior rounds' TPR history.
  */
object OracleRound {

  val Clean = "clean"
  val Valid = "valid"
  private val ConfirmedPrefix = "actualFault"

  /** Status of a row the oracle confirmed in round `r`. */
  def confirmedStatus(r: Int): String = s"${ConfirmedPrefix}s_$r"

  def confirmed(status: Column): Column = status.startsWith(ConfirmedPrefix)

  def believedClean(status: Column): Column = status === Valid || status === Clean

  /** The reference's `+y` label offset (DQTestToolHelper.py:153-157):
    * confirmed faults stay above any threshold on re-score. */
  def labelOffset(status: Column): Column =
    when(confirmed(status), lit(1.0)).otherwise(lit(0.0))

  /** `df` plus `is_known`: whether its `idCol` is among the known-fault
    * ids. The known set is fixed for a run, so a loop attaches it once,
    * before caching the frame its rounds read. */
  def withKnown(df: DataFrame, knownIds: DataFrame, idCol: String): DataFrame =
    df.join(broadcast(knownIds.select(col(idCol)).withColumn("__known", lit(true))),
        Seq(idCol), "left")
      .withColumn("is_known", col("__known").isNotNull)
      .drop("__known")

  /** Add `is_susp` and `status_new` (the confirm transition) for round
    * `r` at threshold `t` to a scored frame carrying `status`,
    * `invalidity_score` and [[withKnown]]'s `is_known`. */
  def flag(scored: DataFrame, t: Double, r: Int): DataFrame =
    scored
      .withColumn("is_susp", col("invalidity_score") >= t)
      .withColumn("status_new",
        when(confirmed(col("status")), col("status"))
          .when(col("is_susp") && col("is_known"), lit(confirmedStatus(r)))
          .when(col("is_susp"), lit(Valid))
          .otherwise(col("status")))

  /** The round's counts, with A = suspicious rows, E = known faults,
    * AF = confirmed rows after (new) or before (old) the round. */
  final case class Counts(
      faulty: Long, // |A|
      eInterA: Long, // |E ∩ A|
      afNew: Long, // |AF_new|
      afOld: Long, // |AF_old|
      afOldMinusNew: Long, // |AF_old − AF_new|
      afMinusE: Long) // |AF_new − E|

  /** [[Counts]] as named aggregates over a [[flag]]ged frame, for
    * `Dataset.observe`. */
  val countColumns: Seq[Column] = {
    val isSusp = col("is_susp")
    val isKnown = col("is_known")
    val afNew = confirmed(col("status_new"))
    val afOld = confirmed(col("status"))
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    Seq(
      n(isSusp).as("faulty"),
      n(isSusp && isKnown).as("eInterA"),
      n(afNew).as("afNew"),
      n(afOld).as("afOld"),
      n(afOld && !afNew).as("afOldMinusNew"),
      n(afNew && !isKnown).as("afMinusE"))
  }

  /** Read [[countColumns]] off their values by name: an [[observed]]
    * Observation's, or a row aggregated from checkpointed rounds. A sum
    * over no rows (null) reads as 0. */
  def counts(values: Map[String, Any]): Counts = {
    def n(name: String) = values(name).asInstanceOf[Long]
    Counts(n("faulty"), n("eInterA"), n("afNew"), n("afOld"), n("afOldMinusNew"),
      n("afMinusE"))
  }

  /** Bounded wait on an Observation: the metrics must arrive with the
    * write action that carries them — if they ever fail to propagate,
    * fail fast instead of hanging the loop forever on `obs.get`. */
  private[graft] def observed(obs: Observation, timeoutSec: Int = 300): Map[String, Any] = {
    import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
    val ex = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-observation-wait"); t.setDaemon(true); t
    }
    try {
      val f = ex.submit(new java.util.concurrent.Callable[Map[String, Any]] {
        def call(): Map[String, Any] = obs.get
      })
      try f.get(timeoutSec.toLong, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"observation ${obs.name} not materialized within ${timeoutSec}s " +
            "of its carrying write action")
      }
    } finally { ex.shutdownNow(): Unit }
  }

  /** The metrics row of round `r`; TPGR spans `priorTprs` (rounds
    * 1..r-1) plus this round's TPR (Evaluation.py:25-30, README:137). */
  def metrics(r: Int, c: Counts, knownCount: Long, priorTprs: Seq[Double]): Metrics.RunMetrics = {
    val fnr = Metrics.falseNegativeRate(c.afOldMinusNew, c.afOld)
    val tpr = Metrics.truePositiveRate(c.afNew, c.faulty)
    Metrics.RunMetrics(
      run = r,
      previouslyDetected = Metrics.previouslyDetected(knownCount, c.eInterA),
      suspiciousDetected = Metrics.newlyDetected(c.faulty, c.faulty - c.eInterA),
      undetected = Metrics.undetected(knownCount, knownCount - c.eInterA),
      newlyDetected = Metrics.newlyDetected(c.faulty, c.afMinusE),
      truePositiveRate = tpr,
      falsePositiveRate = 1.0 - tpr,
      trueNegativeRate = 1.0 - fnr,
      falseNegativeRate = fnr,
      tpgr = Metrics.truePositiveGrowthRate(priorTprs :+ tpr))
  }
}

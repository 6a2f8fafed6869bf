package graft.loop

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.detect.Scorer
import graft.discovery.Thresholds
import graft.engine.TableIO
import graft.eval.{Metrics, OracleRound}

/** The iterative oracle loop over any ID-first table and its known-fault
  * ids — the reference CLI harness (/root/reference/testScript.py:29-46)
  * and its `validate` spine (DQTestToolHelper.py:59-240): refit the model
  * on the believed-clean rows → score every row → discover the threshold
  * → the oracle confirms suspicious∩known as actual faults, the rest
  * valid → metrics row → checkpoint → next round.
  *
  * A round's one checkpoint is its audit table, `outDir/audit/round=r`
  * (the id, `is_susp`, `is_known`, `status_old`, `status_new`, `run`,
  * `threshold`): one columnar write instead of the reference's per-row
  * UPDATEs (DQTestToolHelper.py:161-162), from which the next status,
  * the metrics row and the threshold all follow. Next to it goes the
  * round's per-partition lineage. A re-run with the same outDir resumes
  * after the last completed round; one over other input fails on the
  * fingerprint the outDir records.
  *
  * A round reads one state frame: the cached prepared rows (with
  * `is_known`, attached once per run) plus the round's `status`. Round
  * r+1's state projects round r's cached flagged frame; the rows are
  * joined to an audit checkpoint only on resume, every 5th round and for
  * the final refit. Metrics, thresholds, audit rows and decisions do not
  * depend on the partition layout, nor do the lineage totals.
  */
object OracleLoop {

  /** A table's quality model: the `fingerprint` of its input, the
    * table's row count `n`, the per-row frame the rounds read (keyed by
    * the id column; the loop attaches `is_known` and caches it), and a
    * round's state (prepared row, `is_known`, `status`) plus
    * `invalidity_score` from a refit on the state's believed-clean rows,
    * confirmed rows offset by [[OracleRound.labelOffset]]. */
  abstract class Model(val fingerprint: String, val n: Long) {
    def prepare(table: DataFrame): DataFrame
    def score(state: DataFrame): DataFrame
  }

  /** `decisions` is the final scored state plus `decision`. */
  final case class Result(
      decisions: DataFrame,
      metrics: Seq[Metrics.RunMetrics],
      thresholds: Seq[Double])

  private def lineagePath(outDir: String, r: Int) = s"$outDir/lineage/round=$r"
  private def auditPath(outDir: String, r: Int) = s"$outDir/audit/round=$r"

  /** Record `fingerprint` in `outDir`, or require the one recorded there:
    * resuming audit rounds written from other input would return their
    * metrics and join their statuses to this input's rows. An outDir
    * written before the record existed resumes unchecked. */
  private def requireFingerprint(spark: SparkSession, outDir: String, fingerprint: String)
      : Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, "fingerprint")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val out = fs.create(p, false)
      try out.writeUTF(fingerprint) finally out.close()
    }
    val in = fs.open(p)
    val recorded = try in.readUTF() finally in.close()
    require(recorded == fingerprint, s"outDir $outDir holds a loop over other input " +
      s"(recorded fingerprint '$recorded', this run's '$fingerprint')")
  }

  /** A round is resumable only when both its tables exist: a crash
    * between the audit and the lineage write re-runs the round (both
    * writes are overwrite-idempotent). */
  private def roundComplete(spark: SparkSession, outDir: String, r: Int): Boolean =
    Seq(auditPath(outDir, r), lineagePath(outDir, r)).forall(TableIO.exists(spark, _))

  /** Round `r`'s statuses, read back from its audit checkpoint. */
  private def checkpointedStatuses(spark: SparkSession, outDir: String, idCol: String, r: Int)
      : DataFrame =
    TableIO.read(spark, auditPath(outDir, r))
      .select(col(idCol), col("status_new").as("status"))

  /** The threshold and [[OracleRound.Counts]] of rounds 1..`upTo`, in
    * round order, from ONE aggregation over their audit checkpoints
    * (`status_old` is the counts' input `status`). The read's schema is
    * given, so it infers none; it stops before the first round without a
    * threshold (an audit table written before the column existed), which
    * re-runs with every round after it. */
  private[graft] def checkpointedRounds(spark: SparkSession, outDir: String, upTo: Int)
      : Seq[(Double, OracleRound.Counts)] =
    spark.read.schema("run INT, threshold DOUBLE, is_susp BOOLEAN, is_known BOOLEAN, " +
        "status_old STRING, status_new STRING")
      .parquet((1 to upTo).map(auditPath(outDir, _)): _*)
      .withColumnRenamed("status_old", "status")
      .groupBy("run").agg(first("threshold").as("threshold"), OracleRound.countColumns: _*)
      .collect().sortBy(_.getInt(0)).toSeq
      .takeWhile(!_.isNullAt(1))
      .map(row =>
        row.getDouble(1) -> OracleRound.counts(row.getValuesMap(row.schema.fieldNames.toSeq)))

  /** `rounds` rounds of the loop over `table` (keyed by `idCol`), whose
    * known-fault ids are `known`'s `idCol`, checkpointed in `outDir`. */
  def run(table: DataFrame, idCol: String, known: DataFrame, model: Model, outDir: String,
      rounds: Int): Result = {
    val spark = table.sparkSession
    requireFingerprint(spark, outDir, model.fingerprint)
    val knownCount = known.count()
    // The known set is fixed for the run, so its membership is a column
    // of the cached frame rather than a join in every round.
    val raw = OracleRound.withKnown(model.prepare(table), known, idCol).cache()
    val rawCols = raw.columns.toSeq.map(col)

    // A round's state rebuilt from round r's audit checkpoint.
    def stateAt(r: Int): DataFrame =
      raw.join(checkpointedStatuses(spark, outDir, idCol, r), Seq(idCol))

    def threshold(scored: DataFrame): Double =
      Thresholds.discover(scored, "invalidity_score", "status", knownCount, model.n)._1

    // A round's threshold and its metrics row, whose TPGR spans every
    // prior round's TPR.
    val metricsHist = scala.collection.mutable.ArrayBuffer.empty[Metrics.RunMetrics]
    val thresholds = scala.collection.mutable.ArrayBuffer.empty[Double]
    def record(t: Double, c: OracleRound.Counts): Unit = {
      thresholds += t
      metricsHist += OracleRound.metrics(thresholds.length, c, knownCount,
        metricsHist.map(_.truePositiveRate).toSeq)
    }

    // Resume after the last completed round (see roundComplete — a
    // partially-written round re-runs); the completed rounds' thresholds
    // and metrics are rebuilt from their audit tables.
    (1 to rounds).takeWhile(roundComplete(spark, outDir, _)).lastOption
      .foreach(checkpointedRounds(spark, outDir, _).foreach { case (t, c) => record(t, c) })
    val resumeFrom = thresholds.length
    // A complete resume runs no round: its one read of the last
    // checkpoint is finalState's below.
    var state =
      if (resumeFrom == 0) raw.withColumn("status", lit(OracleRound.Clean))
      else if (resumeFrom < rounds) stateAt(resumeFrom)
      else null

    // Previous round's flagged frame: kept cached until the NEXT round's
    // audit write has materialized (its projection is that round's
    // state), then released.
    var prevFlagged: Option[DataFrame] = None
    for (r <- (resumeFrom + 1) to rounds) {
      val st = model.score(state)
      val t = threshold(st)
      val flagged = OracleRound.flag(st, t, r).cache()

      // One job materializes the cache, writes the round's audit table
      // and collects the round's counts (an Observation rides the write).
      // The audit rows carry exactly what the metric formulas consume,
      // plus the threshold, so the DuckDB oracle recomputes every metric
      // from them and a resume rebuilds the round from them.
      val obs = Observation(s"round_$r")
      TableIO.createOrReplace(
        flagged.observe(obs, OracleRound.countColumns.head, OracleRound.countColumns.tail: _*)
          .select(col(idCol), col("is_susp"), col("is_known"),
            col("status").as("status_old"), col("status_new"), lit(r).as("run"),
            lit(t).as("threshold")),
        auditPath(outDir, r))
      record(t, OracleRound.counts(OracleRound.observed(obs)))

      // Per-partition lineage of the materialized cache; roundComplete
      // requires it next to the audit table.
      TableIO.createOrReplace(
        flagged
          .withColumn("pid", spark_partition_id())
          .groupBy(col("pid").as("partition_id"))
          .agg(count(lit(1)).as("rows_in"),
            sum(when(col("is_susp"), 1L).otherwise(0L)).as("rows_dropped"))
          .withColumn("rows_kept", col("rows_in") - col("rows_dropped"))
          .withColumn("run_id", lit(r))
          .withColumn("completed_at", current_timestamp()),
        lineagePath(outDir, r))

      // The next round's state is a projection of the cached frame, no
      // join. Every 5th round the just-written checkpoint is read back
      // instead: the cache shortcuts execution but not analysis, so
      // chained frames would nest every prior round's plan (and an
      // eviction would recompute through all of them).
      state =
        if (r % 5 == 0) stateAt(r)
        else flagged.select((rawCols :+ col("status_new").as("status")): _*)
      prevFlagged.foreach(_.unpersist())
      prevFlagged = Some(flagged)
    }

    // Final decisions from a refit on the last checkpointed statuses (the
    // same for fresh and resumed runs). ONE scoring pass feeds both the
    // threshold and the decisions: a refit's percentile_approx can depend
    // on merge order past the sketch's exact regime, so two passes could
    // flip boundary rows. The plan reads the checkpoint, so the loop
    // cache is released here.
    val finalState = if (rounds > 0) stateAt(rounds) else state
    prevFlagged.foreach(_.unpersist())
    val finalScored = model.score(finalState)
    Result(Scorer.withDecision(finalScored, threshold(finalScored)), metricsHist.toSeq,
      thresholds.toSeq)
  }
}

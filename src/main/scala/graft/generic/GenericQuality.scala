package graft.generic

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import graft.detect.Scorer
import graft.discovery.Thresholds
import graft.eval.{Metrics, OracleRound}

/** Generic tabular quality mode — the reference's actual user contract
  * (/root/reference/README.md:112-124): any table whose FIRST column is a
  * unique record id, remaining columns numeric or categorical features,
  * plus an optional known-faults id list. Reproduces the semantic
  * skeleton of `constraintDiscoveryAndFaultDetection`
  * (DQTestToolHelper.py:59-240) Spark-first:
  *
  *  - nulls become the distinct categorical level "NULL" (never dropped),
  *    matching DataCollection.py:24;
  *  - constraint discovery = ONE global aggregation pass fitting
  *    per-column state (numeric: mean/stddev; categorical: level
  *    frequencies, broadcast) — the Spark replacement for the
  *    autoencoder/PyOD model zoo (M2/M3): a per-column z-score /
  *    rare-level scorer is the deterministic, distributed analog of
  *    per-feature reconstruction error;
  *  - per-feature invalidity scores in [0,1] (M6), record score = max
  *    over features (M7, DQTestToolHelper.py:153-157);
  *  - threshold via the reference-parity percentile + clamp logic (M8,
  *    [[graft.discovery.Thresholds]]);
  *  - iterative oracle loop + metrics rows (M15/A7) via [[run]].
  *
  * Categorical-vs-numeric is decided by declared Spark type (schema-based
  * rather than the reference's value-probing `is_number`,
  * DataCollection.py:49-72 — deliberate divergence noted in SURVEY §4).
  */
object GenericQuality {

  /** Per-column fitted constraint state. */
  sealed trait ColStats extends Serializable
  final case class NumericStats(mean: Double, std: Double) extends ColStats
  /** Frequencies of the most common levels (relative to max level count);
    * levels absent from the map score as rare (freq 0). */
  final case class CategoricalStats(freq: Map[String, Double]) extends ColStats

  final case class Model(
      cols: Map[String, ColStats],
      pca: Option[graft.models.PcaResidual.State] = None) extends Serializable

  /** One global aggregation pass fitting every column's constraint state
    * (the reference trains on the whole table, DQTestToolHelper.py:130).
    * Categorical frequency tables are capped at `maxLevels` levels per
    * column (rank by count) so broadcast size is bounded at any scale.
    * `multivariate = true` additionally fits the PCA reconstruction-error
    * model over the numeric columns (the joint-structure detector the
    * reference gets from its autoencoder/PyOD zoo — see
    * [[graft.models.PcaResidual]]); it contributes a `score__pca`
    * column and participates in the max-combine. */
  def fit(df: DataFrame, idCol: String, maxLevels: Int = 1024,
      multivariate: Boolean = false): Model = {
    val featureCols = df.schema.fields.filter(_.name != idCol)
    val (numCols, catCols) = featureCols.partition(_.dataType.isInstanceOf[NumericType])

    val numStats: Map[String, ColStats] =
      if (numCols.isEmpty) Map.empty
      else {
        val aggs = numCols.flatMap { f =>
          Seq(avg(col(f.name)).as(s"${f.name}__mean"),
            stddev_pop(col(f.name)).as(s"${f.name}__std"))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numCols.zipWithIndex.map { case (f, i) =>
          val mean = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
          val std = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
          f.name -> (NumericStats(mean, std): ColStats)
        }.toMap
      }

    val catStats: Map[String, ColStats] =
      if (catCols.isEmpty) Map.empty
      else {
        // ONE shuffle for ALL categorical columns (a wide table would
        // otherwise pay one full-scan job per column): explode each row
        // into (column, value) pairs, count with map-side combine, rank
        // within column, cap at maxLevels
        import org.apache.spark.sql.expressions.Window
        val pairs = df.select(explode(map(catCols.flatMap(f =>
          Seq(lit(f.name),
            coalesce(col(f.name).cast(StringType), lit("NULL")))): _*))
          .as(Seq("c", "v")))
        val w = Window.partitionBy("c").orderBy(col("cnt").desc, col("v"))
        val rows = pairs.groupBy("c", "v").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= maxLevels)
          .collect()
        rows.groupBy(_.getString(0)).map { case (cname, rs) =>
          val mx = rs.map(_.getLong(2)).max.toDouble
          cname -> (CategoricalStats(
            rs.map(r => r.getString(1) -> r.getLong(2).toDouble / mx).toMap): ColStats)
        }
      }

    val pca =
      if (!multivariate) None
      else scala.util.Try(graft.models.PcaResidual.fit(df, idCol)).toOption
    Model(numStats ++ catStats, pca)
  }

  /** Per-feature invalidity score columns in [0,1] (M6 analog); the
    * multivariate PCA residual (when fitted) rides along as one more
    * score column. */
  def scoreColumns(model: Model, zMax: Double = 6.0): Seq[(String, Column)] =
    model.pca.toSeq.map(st =>
      "score__pca" -> graft.models.PcaResidual.scoreColumn(st)) ++
    model.cols.toSeq.sortBy(_._1).map {
      case (name, NumericStats(mean, std)) =>
        val z =
          if (std > 0) abs(col(name).cast("double") - lit(mean)) / lit(std)
          else when(col(name).cast("double") === lit(mean), 0.0).otherwise(lit(zMax))
        // null numeric = maximal violation (reference would have turned it
        // into a "NULL" string level; for numerics we treat it as anomalous)
        s"score_$name" -> coalesce(
          least(lit(1.0), greatest(lit(0.0), (z - lit(3.0)) / lit(zMax - 3.0))),
          lit(1.0))
      case (name, CategoricalStats(freq)) =>
        // ONE MapType literal per column (typedlit), not a map() call
        // with 2·levels literal children: at the 1024-level cap a wide
        // table would otherwise put ~2k expression nodes per column into
        // the plan (analysis blowup + 64KB codegen-method fallback on
        // the hot scoring path); a single Literal is data, not plan
        val freqMap = typedlit(freq)
        val v = coalesce(col(name).cast(StringType), lit("NULL"))
        // rare or unseen level -> high score (1 - relative frequency)
        s"score_$name" -> (lit(1.0) - coalesce(element_at(freqMap, v), lit(0.0)))
    }

  /** Score every record: per-feature columns + record score = max (M7).
    * greatest() requires ≥ 2 children, but the generic contract allows a
    * 2-column table (id + ONE feature) — or even id-only — so the combine
    * degenerates gracefully instead of failing analysis. */
  def withScores(df: DataFrame, model: Model): DataFrame = {
    val cols = scoreColumns(model)
    val withCols = cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    val combined = cols.map(c => col(c._1)) match {
      case Seq() => lit(0.0)
      case Seq(single) => single.cast("double")
      case cs => greatest(cs: _*)
    }
    withCols.withColumn("invalidity_score", combined)
  }

  final case class RoundResult(
      threshold: Double,
      metrics: Metrics.RunMetrics)

  final case class Result(
      decisions: DataFrame, // idCol, invalidity_score, decision
      rounds: Seq[RoundResult])

  /** The reference CLI harness loop (testScript.py:29-46): RETRAIN on the
    * table with updated statuses (DQTestToolHelper.py:130 — the model is
    * refit every round on the believed-clean population), score with the
    * confirmed-fault label offset (the reference's `+y`,
    * DQTestToolHelper.py:153-157), threshold (known-fault calibrated +
    * clamp) → suspicious → oracle confirms suspicious∩known → metrics
    * per round. Statuses are carried as a DataFrame between rounds (no
    * per-row UPDATEs). */
  def run(
      df: DataFrame,
      idCol: String,
      knownFaultIds: DataFrame, // single column = idCol
      rounds: Int = 3): Result = {
    val cached = df.cache()
    val n = cached.count()
    val knownCount = knownFaultIds.count()

    def scoreRound(statuses: DataFrame): DataFrame = {
      val believedClean = cached.join(
        statuses.filter(!OracleRound.confirmed(col("status"))).select(idCol),
        Seq(idCol), "left_semi")
      val model = fit(believedClean, idCol)
      // known membership joins the scored projection, never the user's
      // table: a user column named `is_known` stays a feature
      OracleRound.withKnown(
          withScores(cached, model).select(col(idCol), col("invalidity_score")),
          knownFaultIds, idCol)
        .join(statuses, Seq(idCol))
        .withColumn("invalidity_score",
          col("invalidity_score") + OracleRound.labelOffset(col("status")))
    }

    var statuses = cached.select(col(idCol), lit(OracleRound.Clean).as("status"))
    val results = scala.collection.mutable.ArrayBuffer.empty[RoundResult]
    for (r <- 1 to rounds) {
      val st = scoreRound(statuses)
      val (t, _) = Thresholds.discover(st, "invalidity_score", "status", knownCount, n)
      // the round's counts ride the checkpoint that cuts the statuses'
      // lineage (so round plans don't compound)
      val obs = Observation(s"generic_round_$r")
      statuses = OracleRound.flag(st, t, r)
        .observe(obs, OracleRound.countColumns.head, OracleRound.countColumns.tail: _*)
        .select(col(idCol), col("status_new").as("status"))
        .localCheckpoint(true)
      results += RoundResult(t, OracleRound.metrics(r,
        OracleRound.counts(OracleRound.observed(obs)), knownCount,
        results.map(_.metrics.truePositiveRate).toSeq))
    }
    // final decisions from the final-state model (refit on the last
    // statuses), mirroring ValidationRun
    val finalScored = scoreRound(statuses)
    val tFinal = Thresholds.discover(
      finalScored, "invalidity_score", "status", knownCount, n)._1
    val decisions = Scorer.withDecision(finalScored, tFinal)
      .select(col(idCol), col("invalidity_score"), col("decision"))
    Result(decisions, results.toSeq)
  }

  /** CSV entry matching the reference import contract: header CSV, first
    * column = unique id, schema inferred (DataCollection.py:17-19). */
  def fromCsv(spark: SparkSession, csvPath: String): (DataFrame, String) = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(csvPath)
    (df, df.columns.head)
  }
}

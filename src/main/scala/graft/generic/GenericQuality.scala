package graft.generic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import graft.eval.OracleRound
import graft.loop.OracleLoop

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
  *  - iterative oracle loop + metrics rows (M15/A7) via [[run]], the
  *    checkpointed [[graft.loop.OracleLoop]] with this model refitted
  *    each round.
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

  /** Categorical frequency tables keep this many levels per column. */
  private val MaxLevels = 1024
  /** A numeric z-score at or past this scores 1. */
  private val ZMax = 6.0

  /** One global aggregation pass fitting every column's constraint state
    * (the reference trains on the whole table, DQTestToolHelper.py:130).
    * Categorical frequency tables are capped at [[MaxLevels]] levels per
    * column (rank by count) so broadcast size is bounded at any scale.
    * `multivariate = true` additionally fits the PCA reconstruction-error
    * model over the numeric columns (the joint-structure detector the
    * reference gets from its autoencoder/PyOD zoo — see
    * [[graft.models.PcaResidual]]); it contributes a `score__pca`
    * column and participates in the max-combine. */
  def fit(df: DataFrame, idCol: String, multivariate: Boolean = false): Model = {
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
        // within column, cap at MaxLevels
        import org.apache.spark.sql.expressions.Window
        val pairs = df.select(explode(map(catCols.flatMap(f =>
          Seq(lit(f.name),
            coalesce(col(f.name).cast(StringType), lit("NULL")))): _*))
          .as(Seq("c", "v")))
        val w = Window.partitionBy("c").orderBy(col("cnt").desc, col("v"))
        val rows = pairs.groupBy("c", "v").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= MaxLevels)
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
  def scoreColumns(model: Model): Seq[(String, Column)] =
    model.pca.toSeq.map(st =>
      "score__pca" -> graft.models.PcaResidual.scoreColumn(st)) ++
    featureScores(model.cols, col)

  /** The per-column scores of `cols`, reading each feature through
    * `feature`. */
  private def featureScores(cols: Map[String, ColStats], feature: String => Column)
      : Seq[(String, Column)] =
    cols.toSeq.sortBy(_._1).map {
      case (name, NumericStats(mean, std)) =>
        val x = feature(name).cast("double")
        val z =
          if (std > 0) abs(x - lit(mean)) / lit(std)
          else when(x === lit(mean), 0.0).otherwise(lit(ZMax))
        // null numeric = maximal violation (reference would have turned it
        // into a "NULL" string level; for numerics we treat it as anomalous)
        s"score_$name" -> coalesce(
          least(lit(1.0), greatest(lit(0.0), (z - lit(3.0)) / lit(ZMax - 3.0))),
          lit(1.0))
      case (name, CategoricalStats(freq)) =>
        // ONE MapType literal per column (typedlit), not a map() call
        // with 2·levels literal children: at the 1024-level cap a wide
        // table would otherwise put ~2k expression nodes per column into
        // the plan (analysis blowup + 64KB codegen-method fallback on
        // the hot scoring path); a single Literal is data, not plan
        val freqMap = typedlit(freq)
        val v = coalesce(feature(name).cast(StringType), lit("NULL"))
        // rare or unseen level -> high score (1 - relative frequency)
        s"score_$name" -> (lit(1.0) - coalesce(element_at(freqMap, v), lit(0.0)))
    }

  /** Score every record: per-feature columns + record score = max (M7).
    * greatest() requires ≥ 2 children, but the generic contract allows a
    * 2-column table (id + ONE feature) — or even id-only — so the combine
    * degenerates gracefully instead of failing analysis. */
  def withScores(df: DataFrame, model: Model): DataFrame = {
    val cols = scoreColumns(model)
    cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .withColumn("invalidity_score", recordScore(cols.map(c => col(c._1))))
  }

  private def recordScore(scores: Seq[Column]): Column = scores match {
    case Seq() => lit(0.0)
    case Seq(single) => single.cast("double")
    case cs => greatest(cs: _*)
  }

  /** The reference CLI harness loop (testScript.py:29-46): the
    * [[OracleLoop]] in `outDir` with this model refit every round on the
    * believed-clean rows (DQTestToolHelper.py:130). A re-run with the
    * same `outDir` resumes; one over another table fails. The decisions
    * are `idCol`, `invalidity_score` and `decision`. */
  def run(
      df: DataFrame,
      idCol: String,
      knownFaultIds: DataFrame, // single column = idCol
      outDir: String,
      rounds: Int = 3): OracleLoop.Result = {
    // the row count and a content hash of the table in one job; the
    // decimal sum cannot overflow
    val stats = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)"))).head()
    val n = stats.getLong(0)
    val model = new OracleLoop.Model(s"${df.schema.toDDL};n=$n;xxhash64=${stats.get(1)}", n) {
      // the table's columns ride in one struct, so a user column named
      // like a loop column (`is_known`, `status`) stays a feature
      def prepare(table: DataFrame): DataFrame =
        table.select(col(idCol), struct(table.columns.toSeq.map(col): _*).as("__row"))
      def score(state: DataFrame): DataFrame = {
        val m = fit(state.filter(!OracleRound.confirmed(col("status"))).select("__row.*"),
          idCol)
        state.withColumn("invalidity_score",
          recordScore(featureScores(m.cols, col("__row").getField).map(_._2)) +
            OracleRound.labelOffset(col("status")))
      }
    }
    val res = OracleLoop.run(df, idCol, knownFaultIds, model, outDir, rounds)
    res.copy(decisions = res.decisions.select(idCol, "invalidity_score", "decision"))
  }

  /** CSV entry matching the reference import contract: header CSV, first
    * column = unique id, schema inferred (DataCollection.py:17-19). */
  def fromCsv(spark: SparkSession, csvPath: String): (DataFrame, String) = {
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(csvPath)
    (df, df.columns.head)
  }
}

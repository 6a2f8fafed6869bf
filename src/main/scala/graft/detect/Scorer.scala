package graft.detect

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Exprs
import graft.models.{LangId, LangIdModel, NGramLM, NGramLMModel}
import graft.rules.HeuristicRules

/** Per-row invalidity scoring (M5–M7): one narrow, partition-parallel
  * `withColumns` pass adding per-rule score columns (the reference's
  * per-feature scores, /root/reference/backendClasses/Autoencoder.py:42-58),
  * a combined record score = max over rules (M7,
  * DQTestToolHelper.py:153-157), the scrubbed caption, and — after the
  * threshold pass — the keep/drop decision.
  *
  * Model state (langid weights, LM count tables, ppl reference quantile)
  * is fit once per run and broadcast; scoring never leaves the executors.
  */
object Scorer {

  final case class Models(
      langId: Broadcast[LangIdModel],
      lm: Broadcast[NGramLMModel],
      pplRef: Double, // global median per-char perplexity (fallback)
      pplRefByLang: Map[String, Double]) // per-predicted-lang medians

  /** Fit the constraint models: langid trained driver-side on the
    * deterministic corpus; LM fit distributed on the full caption corpus
    * (DQTestToolHelper.py:130 trains on the whole table). Perplexity
    * reference quantiles are discovered *per predicted language* in one
    * grouped `percentile_approx` pass — a mergeable sketch, scale-safe
    * under the skewed language mix (the per-lang analog of the
    * reference's per-feature normalization, Autoencoder.py:42-58). */
  def fit(spark: SparkSession, images: DataFrame): Models = {
    import spark.implicits._
    val langId = spark.sparkContext.broadcast(LangId.pretrained)
    val lm = spark.sparkContext.broadcast(
      NGramLM.fit(spark, images.select(col("caption")).as[String]))
    val ref = referenceFromRows(pplMedianByLang(images
      .select(Exprs.perplexity(col("caption"), lm).as("ppl_raw"),
        Exprs.langidBest(col("caption"), langId).as("pred_lang"))))
    require(ref.isDefined,
      "Scorer.fit needs at least one non-null caption to discover a perplexity reference")
    val (byLang, global) = ref.get
    Models(langId, lm, global, byLang)
  }

  /** (pred_lang, p50, n): the median perplexity and row count of each
    * predicted language of a (pred_lang, ppl_raw) frame, in one grouped
    * sketch pass. */
  private def pplMedianByLang(raw: DataFrame): Array[org.apache.spark.sql.Row] =
    raw.groupBy(col("pred_lang"))
      .agg(expr("percentile_approx(ppl_raw, 0.5D, 10000)").as("p50"),
        count(lit(1)).as("n"))
      .collect()

  /** None when no group carries a quantile (empty corpus, or every
    * caption null — a null caption yields a (lang=null, p50=null) group
    * from the sketch, which has nothing to offer the reference; such
    * rows still score through the global fallback at inference). */
  private def referenceFromRows(
      perLang: Array[org.apache.spark.sql.Row]): Option[(Map[String, Double], Double)] = {
    val rows = perLang.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    if (rows.isEmpty) None
    else {
      val byLang = rows.map(r => r.getString(0) -> r.getDouble(1)).toMap
      // weighted median of the per-language p50s (weight = group rows):
      // the first p50, in ascending order, whose cumulative weight
      // reaches half the total
      val totalN = rows.map(_.getLong(2)).sum
      val sorted = rows.sortBy(_.getDouble(1))
      val cumulative = sorted.map(_.getLong(2)).scanLeft(0L)(_ + _).tail
      val global = sorted(cumulative.indexWhere(2 * _ >= totalN)).getDouble(1)
      Some((byLang, global))
    }
  }

  /** Recalibrate the per-language perplexity reference from the current
    * believed-clean population of a raw-signals frame (one grouped
    * sketch pass over `ppl_raw`/`pred_lang`) — the per-round label
    * feedback: the reference retrains its model every iteration on the
    * table with updated statuses (testScript.py:43 →
    * DQTestToolHelper.py:130); here the expensive LM/langid state is
    * reused and the reference quantiles refit. */
  def recalibrate(rawBelievedClean: DataFrame,
      fallback: (Map[String, Double], Double)): (Map[String, Double], Double) = {
    // an EMPTY believed-clean population (every row known-faulty and
    // confirmed) — or one whose groups are all null-caption — has no
    // quantiles to offer: keep the previous reference
    referenceFromRows(pplMedianByLang(rawBelievedClean)).getOrElse(fallback)
  }

  /** Warm-start fit: reload checkpointed model state when present AND its
    * fingerprint matches the caller's current config (the reference's
    * pretrained-model path, DQTestToolHelper.py:109-111), else fit and
    * checkpoint. */
  def fitOrLoad(spark: SparkSession, images: DataFrame, checkpointDir: Option[String],
      fingerprint: String = ""): Models =
    checkpointDir.flatMap(d =>
      graft.models.ModelCheckpoint.load(spark, d, fingerprint)) match {
      case Some(m) => m
      case None =>
        val m = fit(spark, images)
        checkpointDir.foreach(d =>
          graft.models.ModelCheckpoint.save(spark, m, d, fingerprint))
        m
    }

  /** Heuristic (model-free) rule score columns, each in [0,1].
    * score_pii is NOT here: it derives from the scrubbed caption
    * (comparison), so the scrub chain evaluates once per row. */
  def ruleColumns: Seq[(String, Column)] = {
    val cap = col("caption")
    Seq(
      "score_len" -> HeuristicRules.lengthScore(cap),
      "score_symbol" -> HeuristicRules.symbolScore(cap),
      "score_repetition" -> HeuristicRules.repetitionScore(cap),
      "score_resolution" -> HeuristicRules.resolutionScore(col("w"), col("h")),
      "score_aspect" -> HeuristicRules.aspectScore(col("w"), col("h")))
  }

  /** Score column names contributing to the combined record score. */
  val scoreNames: Seq[String] =
    ruleColumns.map(_._1) ++ Seq("score_pii", "score_langid", "score_ppl", "score_dup")

  /** score_langid from the accepted-language probability. */
  def langidScoreCol(acceptedProb: Column): Column =
    least(lit(1.0), greatest(lit(0.0), (lit(0.7) - acceptedProb) / lit(0.4)))

  /** The langid prediction of `caption` as a struct column (see
    * [[Exprs.langidPredict]]). Materialize it as a column and read
    * `lang` / `accepted_prob` from that column so the forward pass runs
    * once per row: the optimizer does not inline a costly expression
    * read twice. */
  private[graft] val langIdCol = "__langid"

  /** score_ppl formula. The reference lookup is the native
    * [[Exprs.pplRef]] (model state as `ObjectType` literals), so a
    * recalibrated reference does not change the generated code. */
  private def pplScoreCol(pplRaw: Column, predLang: Column,
      pplRefByLang: Map[String, Double], pplRefGlobal: Double): Column =
    least(lit(1.0), greatest(lit(0.0),
      (pplRaw / Exprs.pplRef(predLang, pplRefByLang, pplRefGlobal)
        - lit(2.5)) / lit(2.0)))

  /** scrubbed_caption + derived score_pii, in application order (the
    * scrub chain evaluates exactly once per row; score_pii reads the
    * already-materialized scrubbed column). */
  private def scrubPiiColumns(caption: Column): Seq[(String, Column)] = Seq(
    "scrubbed_caption" -> Exprs.scrubAll(caption),
    "score_pii" ->
      when(col("scrubbed_caption") =!= caption, lit(1.0)).otherwise(lit(0.0)))

  /** Per-row model signals of a caption frame — the expensive,
    * caption-scanning pass, shared by the batch path and
    * [[graft.streaming.StreamScore]]: heuristic rule scores, raw
    * perplexity (`ppl_raw`), predicted language (`pred_lang`), langid
    * score, scrubbed caption and score_pii. Model scores evaluate native
    * columns (`StaticInvoke`s of scalar methods — inside whole-stage
    * codegen, no UDF serde); `pred_lang` and `score_langid` share one langid forward
    * pass per row. */
  def withSignals(images: DataFrame, m: Models): DataFrame = {
    // all signal columns are mutually independent (each reads only input
    // columns), so ONE withColumns projection adds them — repeated
    // withColumn calls each re-analyze the whole growing plan (Spark's
    // own scaladoc warning), pure driver overhead on plans this size
    val langid = col(langIdCol)
    val signalCols = (ruleColumns ++ Seq(
      "pred_lang" -> langid.getField("lang"),
      "ppl_raw" -> Exprs.perplexity(col("caption"), m.lm),
      "score_langid" -> langidScoreCol(langid.getField("accepted_prob")))).toMap
    val base = images
      .withColumn(langIdCol, Exprs.langidPredict(col("caption"), m.langId))
      .withColumns(signalCols)
      .drop(langIdCol)
    // single-pass native scrub; score_pii derives from it so the chain
    // runs exactly once per row. This fold MUST stay sequential:
    // score_pii reads the scrubbed_caption column the previous step
    // materialized.
    scrubPiiColumns(col("caption"))
      .foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) }
  }

  /** [[withSignals]] plus the dup flag (`score_dup`) from the
    * phash-duplicate drop set — computed ONCE and reusable across refit
    * rounds. */
  def withRawSignals(images: DataFrame, m: Models, dupDropIds: DataFrame): DataFrame = {
    // NO broadcast hint on the dup-id set: it is OUTPUT-sized (one id per
    // duplicate row — billions at web-scale 20-30% dup rates), so forcing
    // it through the driver is an OOM, not an optimization. Left to the
    // planner, AQE broadcasts it only when its runtime size is actually
    // under the threshold and shuffle-joins otherwise (PlanSpec gates
    // that no hint is present).
    val dup = dupDropIds.withColumn("__is_dup", lit(1.0))
    withSignals(images, m)
      .join(dup, Seq("image_id"), "left")
      .withColumn("score_dup", coalesce(col("__is_dup"), lit(0.0)))
      .drop("__is_dup")
  }

  /** Finish scoring from raw signals given a (possibly per-round
    * recalibrated) perplexity reference: score_ppl, combined
    * invalidity_score (max over rules — M7, DQTestToolHelper.py:153-157,
    * plus the optional confirmed-fault label offset, the reference's
    * `+y`), and the per-rule score map. */
  def scoresFromSignals(
      raw: DataFrame,
      pplRefByLang: Map[String, Double],
      pplRefGlobal: Double,
      labelOffset: Option[Column] = None): DataFrame = {
    val withPpl = raw.withColumn("score_ppl",
      pplScoreCol(col("ppl_raw"), col("pred_lang"), pplRefByLang, pplRefGlobal))
    val base = greatest(scoreNames.map(col): _*)
    withPpl
      .withColumn("invalidity_score",
        labelOffset.map(o => base + o).getOrElse(base))
      .withColumn("scores",
        map(scoreNames.flatMap(n => Seq(lit(n), col(n))): _*))
  }

  /** Add score_*, score_dup (via broadcast semi-join against the
    * phash-duplicate drop set), invalidity_score (max over rules), and
    * scrubbed_caption — single-round convenience composing
    * [[withRawSignals]] + [[scoresFromSignals]]. */
  def withScores(images: DataFrame, m: Models, dupDropIds: DataFrame): DataFrame =
    scoresFromSignals(withRawSignals(images, m, dupDropIds), m.pplRefByLang, m.pplRef)
      .drop("pred_lang", "ppl_raw")

  /** Keep/drop decision at a discovered threshold (>= drops — the
    * engine's standardized semantics, SURVEY.md §4). */
  def withDecision(scored: DataFrame, threshold: Double): DataFrame =
    scored.withColumn("decision",
      when(col("invalidity_score") >= threshold, "drop").otherwise("keep"))
}

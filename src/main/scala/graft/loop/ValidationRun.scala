package graft.loop

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.detect.Scorer
import graft.discovery.PhashDup
import graft.eval.OracleRound
import graft.synth.{GenConfig, ImageGen}

/** The [[OracleLoop]] over the generated image+caption corpus
  * ([[ImageGen]]) with the caption model: the constraint models (LM
  * perplexity, langid, rules, scrub) fitted once and checkpointed, their
  * expensive caption-scanning pass run once into the cached raw signals,
  * and each round's refit a recalibration of the perplexity references.
  */
object ValidationRun {

  /** `parts` is the generated corpus' partition count; 0, the default,
    * derives it from `n` ([[GenConfig.adaptiveParts]]). */
  final case class RunConfig(
      n: Long = 2000L,
      rounds: Int = 3,
      seed: Long = 42L,
      faultPct: Int = 5,
      outDir: String = "target/graft-run",
      parts: Int = 0)

  type RunResult = OracleLoop.Result

  def run(spark: SparkSession, cfg: RunConfig): RunResult = {
    val gen = GenConfig(cfg.n, cfg.seed, cfg.faultPct,
      parts = if (cfg.parts > 0) cfg.parts else GenConfig.adaptiveParts(cfg.n))
    val images = ImageGen.images(spark, gen).cache()
    val known = ImageGen.knownFaults(spark, gen).select("image_id").cache()

    val model = new OracleLoop.Model(s"n=${cfg.n};seed=${cfg.seed};" +
        s"faultPct=${cfg.faultPct};scrub=${graft.scrub.Scrub.version}", cfg.n) {
      // warm-started from the checkpoint when resuming
      // (DQTestToolHelper.py:109-111); fitted on first use, after the loop
      // has checked the outDir's fingerprint
      lazy val models = Scorer.fitOrLoad(spark, images, Some(s"${cfg.outDir}/model"),
        fingerprint)

      def prepare(images: DataFrame): DataFrame =
        Scorer.withRawSignals(images, models, PhashDup.dropIds(images).cache())
          .select((Seq("image_id", "pred_lang", "ppl_raw", "scrubbed_caption") ++
            Scorer.scoreNames.filterNot(_ == "score_ppl")).map(col): _*)

      // the per-round refit (testScript.py:43 → DQTestToolHelper.py:130):
      // the per-language perplexity references, from the raw signals
      def score(state: DataFrame): DataFrame = {
        val (byLang, global) = Scorer.recalibrate(
          state.filter(!OracleRound.confirmed(col("status"))),
          fallback = (models.pplRefByLang, models.pplRef))
        Scorer.scoresFromSignals(state, byLang, global,
          Some(OracleRound.labelOffset(col("status"))))
      }
    }

    val res = OracleLoop.run(images, "image_id", known, model, cfg.outDir, cfg.rounds)
    res.copy(decisions = res.decisions.select("image_id", "decision", "invalidity_score",
      "scores", "scrubbed_caption", "status"))
  }

  def flagship(spark: SparkSession): DataFrame =
    graft.PipelineCache.decisions(spark, 2000L)
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.detect.Scorer

/** Structured Streaming surface (SURVEY.md §2.7 stretch): the scoring
  * core is pure Catalyst expressions + broadcast state, so the same
  * per-row validate pass applies unchanged to a `readStream` micro-batch.
  * The reference has no streaming at all; this is the north-star
  * extension for continuously-arriving image+caption shards.
  *
  * Near-duplicate detection cannot self-join an unbounded stream; it
  * becomes *stateful first-seen tracking* keyed by phash
  * ([[firstSeenByPhash]], flatMapGroupsWithState) — exact-duplicate
  * semantics per key with bounded per-key state.
  */
object StreamScore {

  /** Per-row scores + decision on a streaming frame (no dedup join —
    * see [[firstSeenByPhash]]). `eventTime` column must already exist.
    *
    * score_ppl uses the SAME per-predicted-language reference quantiles
    * as the batch path (Scorer.withScores) — the reference lookup is
    * stream-safe, and a global-only reference would inflate score_ppl
    * for minority languages and flip keep/drop vs batch. */
  def scoreStream(stream: DataFrame, m: Scorer.Models, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.Exprs
    // every formula below IS the batch path's (Scorer.langidScoreCol /
    // pplScoreCol / scrubPiiColumns / withDecision) — shared builders,
    // not copies, so a batch recalibration cannot silently diverge
    // streaming keep/drop decisions (StreamingSpec asserts 1e-12 parity)
    val rules = Scorer.ruleColumns
    val langid = col(Scorer.langIdCol)
    val scored = rules.foldLeft(stream) { case (df, (n, c)) => df.withColumn(n, c) }
      .withColumn(Scorer.langIdCol, Exprs.langidPredict(col("caption"), m.langId))
      .withColumn("score_langid", Scorer.langidScoreCol(langid.getField("accepted_prob")))
      .withColumn("score_ppl", Scorer.pplScoreCol(
        Exprs.perplexity(col("caption"), m.lm),
        langid.getField("lang"), m.pplRefByLang, m.pplRef))
      .drop(Scorer.langIdCol)
    val withPii = Scorer.scrubPiiColumns(col("caption"))
      .foldLeft(scored) { case (df, (n, c)) => df.withColumn(n, c) }
    val names = rules.map(_._1) ++ Seq("score_pii", "score_langid", "score_ppl")
    Scorer.withDecision(
      withPii.withColumn("invalidity_score", greatest(names.map(col): _*)),
      threshold)
  }

  /** Windowed drop-rate audit metrics with watermark — the streaming
    * analog of the per-run metrics row. */
  def windowedDropRate(
      decisions: DataFrame,
      eventTimeCol: String,
      window: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    decisions
      .withWatermark(eventTimeCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(eventTimeCol), window))
      .agg(count(lit(1)).as("rows_in"),
        sum(when(col("decision") === "drop", 1L).otherwise(0L)).as("rows_dropped"))
      .select(col("window.start").as("window_start"),
        col("rows_in"), col("rows_dropped"))

  final case class Seen(image_id: String, phash: Long, is_duplicate: Boolean)

  /** Stateful exact-phash dedup over a stream: first arrival of a phash
    * passes, later arrivals are flagged duplicates
    * (KeyValueGroupedDataset.flatMapGroupsWithState custom state). */
  def firstSeenByPhash(stream: Dataset[(String, Long)]): Dataset[Seen] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (phash: Long, rows: Iterator[(String, Long)], state: GroupState[Boolean]) => {
          val seenBefore = state.getOption.getOrElse(false)
          val out = scala.collection.mutable.ArrayBuffer.empty[Seen]
          var seen = seenBefore
          rows.foreach { case (id, ph) =>
            out += Seen(id, ph, is_duplicate = seen)
            seen = true
          }
          state.update(seen)
          out.iterator
        })
  }
}

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

  /** Per-row scores + decision on a streaming frame: the batch path's
    * own signal builder, score combine and decision, so a batch
    * recalibration cannot silently diverge streaming keep/drop
    * decisions. There is no dedup join — see [[firstSeenByPhash]] — so
    * `score_dup` is 0. `eventTime` column must already exist. */
  def scoreStream(stream: DataFrame, m: Scorer.Models, threshold: Double): DataFrame =
    Scorer.withDecision(
      Scorer.scoresFromSignals(
        Scorer.withSignals(stream, m).withColumn("score_dup", lit(0.0)),
        m.pplRefByLang, m.pplRef),
      threshold)

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

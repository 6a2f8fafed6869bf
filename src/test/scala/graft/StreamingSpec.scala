package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Scratch
import graft.streaming.StreamScore
import graft.synth.{GenConfig, ImageGen}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  val dir = "target/graft-stream-in"

  def writeShard(): Unit = {
    Scratch.deleteRecursively(new java.io.File(dir))
    ImageGen.images(spark, GenConfig(n = 500L, parts = 4))
      .withColumn("ts", timestamp_millis(lit(1700000000000L) +
        substring(col("image_id"), 4, 9).cast("long") * 1000))
      .write.parquet(dir)
  }

  test("streaming micro-batch applies the same scoring expressions") {
    writeShard()
    val batchImages = PipelineCache.images(spark, 500L)
    val models = PipelineCache.models(spark, 500L)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val scored = StreamScore.scoreStream(stream, models, threshold = 0.5)
      .select("image_id", "decision", "invalidity_score", "scrubbed_caption")
    val q = scored.writeStream.format("memory").queryName("stream_scores")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_scores").collect()
    assert(got.length == 500)
    // parity vs the batch path (minus the dup join, which is stateful
    // in streaming): same rows -> same scrubbed caption AND the same
    // invalidity score (per-predicted-language ppl reference on both
    // surfaces; empty dup set makes score_dup = 0 on the batch side)
    val batch = graft.detect.Scorer.withDecision(
      graft.detect.Scorer.withScores(
        batchImages, models, spark.emptyDataset[String].toDF("image_id")),
      threshold = 0.5)
      .select(col("image_id"), col("scrubbed_caption"), col("invalidity_score"),
        col("decision"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2), r.getString(3))))
      .toMap
    got.foreach { r =>
      val (expScrub, expScore, expDecision) = batch(r.getString(0))
      assert(r.getString(3) == expScrub, s"scrub mismatch ${r.getString(0)}")
      assert(math.abs(r.getDouble(2) - expScore) < 1e-12,
        s"score mismatch ${r.getString(0)}: stream=${r.getDouble(2)} batch=$expScore")
      assert(r.getString(1) == expDecision,
        s"decision mismatch ${r.getString(0)}: stream=${r.getString(1)} batch=$expDecision")
    }
    // drops present (seeded faults score >= 0.5)
    assert(got.count(_.getString(1) == "drop") > 0)
  }

  test("windowed drop-rate aggregation with watermark") {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val models = PipelineCache.models(spark, 500L)
    val agg = StreamScore.windowedDropRate(
      StreamScore.scoreStream(stream, models, 0.5), "ts")
    val q = agg.writeStream.format("memory").queryName("stream_windows")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stream_windows").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(1)).sum == 500L)
  }

  test("checkpointed file-sink stream resumes exactly-once across restarts") {
    // north-rule resume on the streaming surface: a scored stream with a
    // file sink + checkpointLocation, stopped and restarted mid-corpus,
    // must emit every row exactly once
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val inDir = s"target/graft-stream-ck-in-$tag"
    val outDir = s"target/graft-stream-ck-out-$tag"
    val chkDir = s"target/graft-stream-ck-chk-$tag"
    def writeShardRange(lo: Long, hi: Long, part: Int): Unit =
      ImageGen.images(spark, GenConfig(n = 500L, parts = 4))
        .filter(substring(col("image_id"), 4, 9).cast("long").between(lo, hi - 1))
        .write.mode("append").parquet(inDir)
    writeShardRange(0, 250, 0)
    val models = PipelineCache.models(spark, 500L)
    val schema = spark.read.parquet(inDir).schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir)
      val q = StreamScore.scoreStream(stream, models, 0.5)
        .select("image_id", "decision", "invalidity_score")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", chkDir)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    runOnce() // first half
    writeShardRange(250, 500, 1)
    runOnce() // restart from the same checkpoint, second half arrives
    val out = spark.read.parquet(outDir).select("image_id").collect()
      .map(_.getString(0))
    assert(out.length == 500, s"expected 500 rows exactly-once, got ${out.length}")
    assert(out.distinct.length == 500)
    Seq(inDir, outDir, chkDir).foreach(d =>
      Scratch.deleteRecursively(new java.io.File(d)))
  }

  test("stateful first-seen phash dedup across micro-batches") {
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .select(col("image_id"), col("phash")).as[(String, Long)]
    val deduped = StreamScore.firstSeenByPhash(stream)
    val q = deduped.toDF().writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("stream_dedup").collect()
    assert(rows.length == 500)
    // exact-phash duplicates: every phash has exactly one non-duplicate row
    val byHash = rows.groupBy(_.getLong(1))
    byHash.foreach { case (_, rs) =>
      assert(rs.count(!_.getBoolean(2)) == 1)
    }
  }

  test("qf_stream_window writes its shard again after a sweep deleted it") {
    // the query synthesizes its own input, so the scale-factor dir is unused
    val query = SparkEntry.queries("qf_stream_window")
    val first = query(spark, "").collect().toSeq
    val shard = new java.io.File(
      s"target/graft-qf-stream-p${ProcessHandle.current().pid()}-shard")
    assert(shard.exists())
    // what a concurrent process's stale-shard sweep does
    Scratch.deleteRecursively(shard)
    assert(query(spark, "").collect().toSeq == first)
  }
}

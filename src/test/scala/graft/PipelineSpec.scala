package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Scratch
import graft.loop.ValidationRun
import graft.synth.ImageGen

/** End-to-end oracle test mirroring /root/reference/testScript.py:29-52:
  * deterministic synthetic table with seeded faults → score → threshold →
  * decisions; F1 ≥ 0.99 and exact scrubbed-caption equality are the
  * BASELINE.md gates. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  val N = 2000L

  test("one-shot keep/drop F1 >= 0.99 vs seeded oracle labels") {
    val dec = PipelineCache.decisions(spark, N)
    val exp = ImageGen.expected(spark, PipelineCache.genCfg(N))
      .select(col("image_id"), col("decision").as("expected"))
    val j = dec.join(exp, Seq("image_id")).cache()
    val tp = j.filter(col("decision") === "drop" && col("expected") === "drop").count()
    val fp = j.filter(col("decision") === "drop" && col("expected") === "keep").count()
    val fn = j.filter(col("decision") === "keep" && col("expected") === "drop").count()
    val f1 = graft.eval.Metrics.f1(tp, fp, fn)
    if (f1 < 0.99) {
      // diagnostic breakdown: which fault classes were missed / what
      // scores the false drops carried
      val expFull = ImageGen.expected(spark, PipelineCache.genCfg(N))
        .select(col("image_id"), col("decision").as("expected"), col("fault_class"))
      val scored = PipelineCache.scored(spark, N)
        .join(expFull, Seq("image_id"))
        .join(dec.select(col("image_id"), col("decision")), Seq("image_id"))
      scored.filter(col("decision") =!= col("expected"))
        .select("image_id", "fault_class", "expected", "invalidity_score", "scores")
        .orderBy("fault_class", "image_id")
        .show(40, truncate = false)
    }
    assert(f1 >= 0.99, s"F1=$f1 tp=$tp fp=$fp fn=$fn")
  }

  test("scrubbed captions match expected exactly (all rows)") {
    val dec = PipelineCache.decisions(spark, N).select("image_id", "scrubbed_caption")
    val exp = ImageGen.expected(spark, PipelineCache.genCfg(N))
      .select(col("image_id"), col("scrubbed_caption").as("expected_scrub"))
    val mismatches = dec.join(exp, Seq("image_id"))
      .filter(col("scrubbed_caption") =!= col("expected_scrub"))
      .count()
    assert(mismatches == 0L, s"$mismatches scrub mismatches")
  }

  test("iterative loop: metrics appended per round, TPR stays high, resume works") {
    val dir = "target/graft-test-loop"
    Scratch.deleteRecursively(new java.io.File(dir))
    val cfg = ValidationRun.RunConfig(n = 1000L, rounds = 3, outDir = dir)
    val res = ValidationRun.run(spark, cfg)
    assert(res.metrics.size == 3)
    // oracle confirms suspicious∩known each round; TPR should be ≥ its
    // first-round value (TPGR ≥ 0 intent, Evaluation.py:25-30)
    val tprs = res.metrics.map(_.truePositiveRate)
    assert(tprs.last >= tprs.head - 1e-9, s"TPR fell: $tprs")
    assert(graft.eval.Metrics.truePositiveGrowthRate(tprs) >= -1e-9)
    // per-round refit with label feedback: confirmed faults carry the +1
    // label offset in re-scoring (the reference's +y,
    // DQTestToolHelper.py:153-157), so final scores exceed 1.0 for them —
    // evidence that scores CHANGE across rounds rather than being frozen
    val maxScore = res.decisions.agg(max("invalidity_score")).head().getDouble(0)
    assert(maxScore > 1.0, s"no label-offset rescoring visible, max=$maxScore")
    assert(res.thresholds.size == 3)
    // resume: re-running with the same outDir skips all rounds and
    // reproduces the same metrics history AND a full thresholds list
    // (aligned 1:1 with metrics — a resumed run used to return fewer)
    val res2 = ValidationRun.run(spark, cfg)
    assert(res2.metrics.map(_.truePositiveRate) == tprs)
    assert(res2.thresholds == res.thresholds,
      s"resumed thresholds ${res2.thresholds} != ${res.thresholds}")
    // decisions still produced after a fully-resumed run
    assert(res2.decisions.count() == 1000L)
    // crash-window resume: a round whose audit/lineage are missing (JVM
    // died mid-round) must RE-RUN, not leave a permanent hole in the
    // metrics history
    Scratch.deleteRecursively(new java.io.File(s"$dir/audit/round=3"))
    Scratch.deleteRecursively(new java.io.File(s"$dir/lineage/round=3"))
    val res3 = ValidationRun.run(spark, cfg)
    assert(res3.metrics.size == 3, "partial round must be re-run, not skipped")
    assert(res3.metrics.map(_.truePositiveRate) == tprs)
    assert(res3.thresholds == res.thresholds)
    assert(new java.io.File(s"$dir/audit/round=3").exists())
  }

  test("10-round loop matches the reference harness iteration count (testScript.py:29)") {
    val dir = "target/graft-test-loop10"
    Scratch.deleteRecursively(new java.io.File(dir))
    val res = ValidationRun.run(spark,
      ValidationRun.RunConfig(n = 400L, rounds = 10, outDir = dir))
    assert(res.metrics.size == 10)
    val tprs = res.metrics.map(_.truePositiveRate)
    assert(tprs.last >= tprs.head - 1e-9, s"TPR fell across 10 rounds: $tprs")
    assert(graft.eval.Metrics.truePositiveGrowthRate(tprs) >= -1e-9)
    // every round left its audit checkpoint
    (1 to 10).foreach { r =>
      assert(new java.io.File(s"$dir/audit/round=$r").exists(), s"round $r")
    }
  }

  test("loop outputs do not depend on the partition layout; lineage totals match") {
    def runAt(parts: Int) = {
      val dir = s"target/graft-test-loop-parts$parts"
      Scratch.deleteRecursively(new java.io.File(dir))
      val res = ValidationRun.run(spark,
        ValidationRun.RunConfig(n = 400L, rounds = 3, outDir = dir, parts = parts))
      val decisions = res.decisions.orderBy("image_id").collect().toSeq
      val audit = spark.read.parquet(s"$dir/audit").orderBy("round", "image_id").collect().toSeq
      val lineage = spark.read.parquet(s"$dir/lineage").groupBy("round")
        .agg(sum("rows_in"), sum("rows_dropped")).orderBy("round").collect().toSeq
      (res.metrics, res.thresholds, decisions, audit, lineage)
    }
    val (m4, t4, d4, a4, l4) = runAt(4)
    val (m7, t7, d7, a7, l7) = runAt(7)
    assert(m4 == m7)
    assert(t4 == t7)
    assert(d4.size == 400 && d4 == d7)
    assert(a4.size == 3 * 400 && a4 == a7)
    assert(l4.size == 3 && l4 == l7)
  }

  test("per-partition lineage rows recorded") {
    val dir = "target/graft-test-loop"
    val lineage = spark.read.parquet(s"$dir/lineage/round=1")
    val total = lineage.agg(sum("rows_in")).head().getLong(0)
    assert(total == 1000L)
    assert(lineage.columns.toSet ==
      Set("partition_id", "rows_in", "rows_dropped", "rows_kept", "run_id", "completed_at"))
  }

  test("an observation whose action never runs fails the wait, naming it") {
    val obs = org.apache.spark.sql.Observation("never-run")
    spark.range(3).observe(obs, count(lit(1)).as("n")) // no action follows
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](graft.eval.OracleRound.observed(obs, timeoutSec = 1))
    assert(e.getMessage.contains("never-run"), e.getMessage)
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: predicate pushdown into the parquet
  * scan, column pruning, broadcast join selection, semi-join strategy,
  * whole-stage codegen coverage — asserted on the driver-contract
  * queries so regressions fail loudly. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize THIS plan (count() would plan separately)
    df.queryExecution.executedPlan.toString()
  }

  test("filtered scan pushes predicates into the parquet reader (q02)") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p.take(800))
    assert(p.contains("IsNotNull(lang)") || p.contains("EqualTo(lang,en)"),
      p.take(1500))
  }

  test("column pruning: unused text column never read (q02)") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
    assert(readSchema.contains("n_chars"), readSchema)
  }

  test("small dimension is broadcast (q18 3-way join)") {
    val p = plan("q18_join_agg")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti (q03/q04)") {
    assert(plan("q03_semi_join").contains("LeftSemi"))
    assert(plan("q04_anti_join").contains("LeftAnti"))
  }

  test("scalar quality rules run inside whole-stage codegen (q13)") {
    val p = plan("q13_quality_rules")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), p.take(1500))
  }

  test("decimal-exact aggregate uses hash aggregation (q01)") {
    val p = plan("q01_group_agg")
    assert(p.contains("HashAggregate"), p.take(1500))
  }

  test("flagship validate pass: scoring runs codegen'd, dup join broadcasts, no extra shuffle") {
    import org.apache.spark.sql.functions.col
    val imgs = PipelineCache.images(spark, 2000L)
    val m = PipelineCache.models(spark, 2000L)
    val dup = graft.discovery.PhashDup.dropIds(imgs).cache()
    dup.count() // discovered set materialized (as the pipeline does)
    val validate = graft.detect.Scorer.withDecision(
      graft.detect.Scorer.withScores(imgs, m, dup), 0.5)
      .filter(col("decision") === "drop")
    validate.collect()
    val p = validate.queryExecution.executedPlan.toString()
    // the discovered dup set is small here → AQE must broadcast, never
    // sort-merge (no forced hint: at scale a huge set may legitimately
    // shuffle — PlanSpec only pins the small-set behavior)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // the scoring expressions stay inside whole-stage codegen
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("scrubAllScalar")), p.take(3000))
    dup.unpersist()
  }

  test("dup-id set join is hint-free: planner/AQE chooses the strategy") {
    // The dup drop set is OUTPUT-sized (one id per duplicate row) — a
    // forced broadcast() would pull billions of rows through the driver
    // at web-scale dup rates. The join must carry NO hint so AQE
    // broadcasts only when the runtime size is actually small.
    import org.apache.spark.sql.functions.col
    val imgs = PipelineCache.images(spark, 2000L)
    val m = PipelineCache.models(spark, 2000L)
    val dup = imgs.select(col("image_id")).limit(50)
    val raw = graft.detect.Scorer.withRawSignals(imgs, m, dup)
    val analyzed = raw.queryExecution.analyzed.toString()
    assert(!analyzed.contains("ResolvedHint"), analyzed.take(2000))
    assert(!analyzed.contains("UnresolvedHint"), analyzed.take(2000))
  }
}

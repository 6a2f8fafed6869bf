package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.explain.ClusterExplainer

class ExplainSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("kmeans clustering separates distinct score signatures") {
    // two obvious fault families: pure length faults vs pure symbol faults
    val rows = (1 to 50).map(i => (f"a$i%03d", 1.0, 0.0)) ++
      (1 to 50).map(i => (f"b$i%03d", 0.0, 1.0))
    val df = rows.toDF("image_id", "score_len", "score_symbol")
    val clustered = ClusterExplainer.clusterFaulty(df, Seq("score_len", "score_symbol"), 2)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val aClusters = clustered.filter(_._1.startsWith("a")).values.toSet
    val bClusters = clustered.filter(_._1.startsWith("b")).values.toSet
    assert(aClusters.size == 1 && bClusters.size == 1 && aClusters != bClusters)
  }

  test("tree rules name the discriminating attribute") {
    val rows = (1 to 100).map(i => (0.02 * (i % 5), 0.01 * (i % 3), 0.0)) ++
      (1 to 100).map(i => (0.9 + 0.002 * (i % 5), 0.01 * (i % 3), 1.0))
    val df = rows.toDF("score_len", "score_symbol", "label")
    val rules = ClusterExplainer.treeRules(df, Seq("score_len", "score_symbol"))
    assert(rules.nonEmpty)
    assert(rules.exists(r => r.contains("score_len") && r.endsWith("invalid")), rules.mkString("; "))
    assert(!rules.exists(_.contains("score_symbol")), "irrelevant attribute used")
  }

  test("faulty attributes: cluster-mean > p70 of means (M12)") {
    val df = (1 to 20).map(_ => (1.0, 0.0, 0.05)).toDF("a", "b", "c")
    val attrs = ClusterExplainer.faultyAttributes(df, Seq("a", "b", "c"))
    assert(attrs == Seq("a"))
  }

  test("clusterFaulty at 50k rows: bounded fit, full parallel assignment") {
    val big = spark.range(0, 50000).select(
      concat(lit("im"), col("id")).as("image_id"),
      pmod(col("id"), lit(2)).cast("double").as("score_a"),
      (lit(1.0) - pmod(col("id"), lit(2)).cast("double")).as("score_b"))
    val t0 = System.nanoTime()
    val out = ClusterExplainer.clusterFaulty(
      big, Seq("score_a", "score_b"), k = 2, maxFit = 2000)
    assert(out.count() == 50000L, "every faulty row must get a cluster id")
    assert(out.select("cluster_id").distinct().count() == 2L)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120.0, s"50k clustering took ${sec}s — fit not bounded?")
  }

  test("end-to-end explain on the scored pipeline emits rules per cluster") {
    val scored = PipelineCache.scored(spark, 2000L).withColumn("status", lit("clean"))
    val knownCount = graft.synth.ImageGen.knownFaults(spark, PipelineCache.genCfg(2000L)).count()
    val (t, med) = graft.discovery.Thresholds.discover(
      scored, "invalidity_score", "status", knownCount, 2000L)
    val rules = ClusterExplainer.explain(scored, PipelineCache.scoreNames, t, med)
    val collected = rules.collect()
    assert(collected.nonEmpty)
    assert(collected.map(_.getInt(0)).distinct.length >= 2, "expected >= 2 clusters")

    // Partition-layout independence: the same scored rows in a different
    // physical layout must yield the SAME rules — the normal-side sample
    // is hash-ordered, not a bare limit (which takes whichever partitions
    // answer first).
    val relaid = scored.repartition(11)
    val rules2 = ClusterExplainer.explain(relaid, PipelineCache.scoreNames, t, med)
    assert(rules2.collect().toSeq.map(r => (r.getInt(0), r.getString(1))).sorted ==
      collected.toSeq.map(r => (r.getInt(0), r.getString(1))).sorted,
      "explain rules changed with partition layout")
  }

  test("explain leaves nothing cached; explainStructured only its returned frame") {
    import org.apache.spark.sql.graft.CacheProbe
    val scored = PipelineCache.scored(spark, 2000L).withColumn("status", lit("clean"))
    val knownCount = graft.synth.ImageGen.knownFaults(spark, PipelineCache.genCfg(2000L)).count()
    val (t, med) = graft.discovery.Thresholds.discover(
      scored, "invalidity_score", "status", knownCount, 2000L)
    val before = CacheProbe.entries(spark)
    assert(ClusterExplainer.explain(scored, PipelineCache.scoreNames, t, med).count() > 0)
    assert(CacheProbe.entries(spark) == before)
    val (_, labeled) = ClusterExplainer.explainStructured(
      scored, PipelineCache.scoreNames, t, med)
    assert(CacheProbe.entries(spark) == before + 1)
    labeled.unpersist()
    assert(CacheProbe.entries(spark) == before)
  }

  test("explain and bestK release their caches on their early exits") {
    import org.apache.spark.sql.graft.CacheProbe
    val scored = PipelineCache.scored(spark, 2000L)
    val above = scored.agg(max("invalidity_score")).head().getDouble(0) + 1.0
    val before = CacheProbe.entries(spark)
    // no row passes the faulty threshold: the k-means sample is empty
    assert(ClusterExplainer.explain(scored, PipelineCache.scoreNames, above, 0.5).count() == 0)
    assert(CacheProbe.entries(spark) == before)
    // no candidate k fits the sample
    intercept[IllegalArgumentException](
      ClusterExplainer.bestK(scored.limit(3), PipelineCache.scoreNames, Seq(4, 5)))
    assert(CacheProbe.entries(spark) == before)
    // no non-null embedding to fit the IVF coarse quantizer on
    val emb = Seq((1L, null: Array[Float])).toDF("vec_id", "embedding")
    val queries = Seq((0L, Array(1.0f, 0.0f))).toDF("query_id", "qvec")
    intercept[IllegalArgumentException](graft.ops.Similarity.ivfTopK(emb, queries, 5))
    assert(CacheProbe.entries(spark) == before)
  }

  test("structured rules partition the labeled rows; verdicts follow the majority") {
    val scored = PipelineCache.scored(spark, 2000L).withColumn("status", lit("clean"))
    val knownCount = graft.synth.ImageGen.knownFaults(spark, PipelineCache.genCfg(2000L)).count()
    val (t, med) = graft.discovery.Thresholds.discover(
      scored, "invalidity_score", "status", knownCount, 2000L)
    val (rules, labeled) = ClusterExplainer.explainStructured(
      scored, PipelineCache.scoreNames, t, med)
    val rows = labeled.select(
      (col("cluster_id") +: col("image_id") +: col("label") +:
        PipelineCache.scoreNames.map(col)): _*).collect()
    labeled.unpersist()
    assert(rules.nonEmpty && rows.nonEmpty)
    // structured ↔ rendered agreement
    rules.foreach(r => assert(r.rule ==
      graft.explain.ClusterExplainer.TreeRule(r.conjuncts, r.verdict).render))
    val byCluster = rows.groupBy(_.getInt(0))
    rules.groupBy(_.cluster_id).foreach { case (cid, rs) =>
      val crows = byCluster(cid)
      val feat = PipelineCache.scoreNames.zipWithIndex.toMap
      // evaluate each rule over each row: tree leaves are mutually
      // exclusive and exhaustive, so every row matches EXACTLY one rule
      val matchCounts = crows.map { row =>
        rs.count(r => r.conjuncts.forall { c =>
          val v = row.getDouble(3 + feat(c.feature))
          if (c.op == "<=") v <= c.threshold else v > c.threshold
        })
      }
      assert(matchCounts.forall(_ == 1),
        s"cluster $cid: a labeled row matched ${matchCounts.distinct.sorted.mkString(",")} rules")
      // strict-majority verdicts (ties are implementation-defined): among
      // the rows a rule matches, a strict invalid majority must be
      // verdict=invalid and vice versa (fit sample == labeled rows here,
      // maxFit not binding at this scale)
      rs.foreach { r =>
        val m = crows.filter(row => r.conjuncts.forall { c =>
          val v = row.getDouble(3 + feat(c.feature))
          if (c.op == "<=") v <= c.threshold else v > c.threshold
        })
        val nInv = m.count(_.getDouble(2) == 1.0)
        if (2 * nInv > m.length) assert(r.verdict == "invalid", r.rule)
        if (2 * nInv < m.length) assert(r.verdict == "valid", r.rule)
      }
    }
  }
}

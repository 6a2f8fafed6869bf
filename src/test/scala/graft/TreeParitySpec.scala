package graft

import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.detect.Scorer
import graft.discovery.{PhashDup, Thresholds}
import graft.explain.ClusterExplainer
import graft.explain.ClusterExplainer.TreeRule
import graft.synth.{GenConfig, ImageGen}

/** ClusterExplainer's tree rules — the production path, every tree
  * fitted per group inside one task by the local CART trainer
  * (`org.apache.spark.ml.tree.graft.LocalCart`), a single tree as one
  * group — against their parity reference, MLlib's
  * `DecisionTreeClassifier` fitted on the bounded sample in
  * (xxhash64(features, label), features, label) order, one partition.
  * Rules must be equal — the same leaves in the same order, the same
  * verdicts and bit-identical thresholds. */
class TreeParitySpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def bits(rules: Seq[TreeRule]) = rules.map(r => (r.verdict,
    r.conjuncts.map(c => (c.feature, c.op, java.lang.Double.doubleToRawLongBits(c.threshold)))))

  private def mllibRules(labeled: DataFrame, featureCols: Seq[String],
      maxFit: Int = 20000): Seq[TreeRule] = {
    val orderCols = (featureCols :+ "label").map(col)
    val assembled = labeled.select((featureCols.map(c => col(c).cast("double")) :+
        col("label").cast("double").as("label")): _*)
      .orderBy((xxhash64(orderCols: _*) +: orderCols): _*)
      .limit(maxFit)
      .select(array_to_vector(array(featureCols.map(col): _*)).as("features"), col("label"))
      .coalesce(1)
      .cache()
    try ClusterExplainer.structuredRulesFrom(
      new DecisionTreeClassifier().setMaxDepth(5).setSeed(42L).fit(assembled).rootNode,
      featureCols, Nil)
    finally assembled.unpersist(): Unit
  }

  private def assertParity(labeled: DataFrame, featureCols: Seq[String],
      maxFit: Int = 20000): Seq[TreeRule] = {
    val local = ClusterExplainer.treeStructuredRules(labeled, featureCols, maxFit = maxFit)
    val ref = mllibRules(labeled, featureCols, maxFit)
    assert(bits(local) == bits(ref),
      s"\nlocal: ${local.map(_.render).mkString("; ")}\nmllib: ${ref.map(_.render).mkString("; ")}")
    local
  }

  private def table(rows: Seq[(Seq[Double], Double)], names: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (f, l) => org.apache.spark.sql.Row.fromSeq(f :+ l) }, 3),
      org.apache.spark.sql.types.StructType((names :+ "label").map(n =>
        org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.DoubleType))))

  test("ImageGen seeds x fault rates: known-fault trees and every cluster's tree") {
    val models = PipelineCache.models(spark, 2000L)
    for (seed <- Seq(3L, 11L); faultPct <- Seq(5, 30)) {
      val gen = GenConfig(n = 600L, seed = seed, faultPct = faultPct, parts = 4)
      val images = ImageGen.images(spark, gen)
      val known = ImageGen.knownFaults(spark, gen).select(col("image_id"), lit(1.0).as("k"))
      val scored = Scorer.withScores(images, models, PhashDup.dropIds(images))
        .join(known, Seq("image_id"), "left")
        .withColumn("label", coalesce(col("k"), lit(0.0)))
        .cache()
      assertParity(scored, Scorer.scoreNames)
      // the per-cluster training sets explain builds in one job
      if (seed == 11L && faultPct == 30) {
        val (t, med) = Thresholds.discover(scored.withColumn("status", lit("clean")),
          "invalidity_score", "status", known.count(), gen.n)
        val (rules, labeled) =
          ClusterExplainer.explainStructured(scored, Scorer.scoreNames, t, med)
        assert(rules.nonEmpty)
        rules.groupBy(_.cluster_id).toSeq.sortBy(_._1).foreach { case (cid, rs) =>
          val ref = mllibRules(labeled.filter(col("cluster_id") === cid), Scorer.scoreNames)
          assert(rs.map(_.rule_id) == rs.indices)
          assert(bits(rs.map(r => TreeRule(r.conjuncts, r.verdict))) == bits(ref),
            s"seed $seed faultPct $faultPct cluster $cid")
        }
        labeled.unpersist()
      }
      scored.unpersist()
    }
  }

  test("edge cases: ties, constant features, single class, tiny and maxFit-cut inputs") {
    val rnd = new scala.util.Random(5)
    val names = Seq("a", "b", "c")
    // two identical features and an equal-gain pair of cuts inside one
    // feature: the first feature and the first cut win
    val ties = (0 until 40).map { i =>
      val v = (i % 4 + 1).toDouble
      (Seq(v, v, (i % 7).toDouble), if (v == 1.0 || v == 4.0) 1.0 else 0.0)
    }
    assertParity(table(ties, names), names)
    // a non-zero constant, an all-zero feature and one informative feature
    val constant = (0 until 60).map { i =>
      (Seq(0.7, 0.0, rnd.nextDouble()), if (i % 3 == 0) 1.0 else 0.0)
    }
    assertParity(table(constant, names), names)
    // every feature constant: no split candidate at all
    assert(assertParity(table(Seq.fill(20)((Seq(0.5, 0.0, 2.0), 1.0)) ++
      Seq.fill(30)((Seq(0.5, 0.0, 2.0), 0.0)), names), names).size == 1)
    // single-class inputs: only normal rows, and no normal rows
    val values = (0 until 50).map(_ => Seq.fill(3)(rnd.nextInt(5).toDouble))
    assertParity(table(values.map(_ -> 0.0), names), names)
    assertParity(table(values.map(_ -> 1.0), names), names)
    // fewer rows than maxBins
    assertParity(table((0 until 12).map(i => (Seq(i * 0.1, (11 - i) * 0.2, 1.0),
      if (i % 4 == 1) 1.0 else 0.0)), names), names)
    // more distinct values than maxBins, cut to the first maxFit rows
    val many = (0 until 3000).map { _ =>
      val f = Seq(rnd.nextGaussian(), rnd.nextDouble(), rnd.nextInt(40).toDouble)
      (f, if (f(0) + f(1) > 0.9 || f(2) > 35) 1.0 else 0.0)
    }
    assertParity(table(many, names), names, maxFit = 1200)
  }

  test("a sample over 10,000 rows takes MLlib's split-finding sampler path") {
    val rnd = new scala.util.Random(9)
    val names = Seq("a", "b", "c")
    // half the values are zero, so the sampled candidates also carry the
    // expected zero count MLlib adds back
    val rows = (0 until 12000).map { _ =>
      val f = Seq.fill(3)(if (rnd.nextBoolean()) 0.0 else math.rint(rnd.nextDouble() * 1e4) / 1e4)
      (f, if (f(0) > 0.6 || (f(1) > 0.3 && f(2) < 0.2)) 1.0 else 0.0)
    }
    assert(assertParity(table(rows, names), names).size >= 4)
  }

  test("groupTrees cuts each group to maxFit rows before its shuffle") {
    val rnd = new scala.util.Random(13)
    val names = Seq("a", "b", "c")
    val rows = (0 until 12000).map { i =>
      val f = Seq(rnd.nextGaussian(), rnd.nextDouble(), rnd.nextInt(40).toDouble)
      org.apache.spark.sql.Row.fromSeq((i % 2) +: f :+
        (if (f(0) + f(1) > 0.9 || f(2) > 35) 1.0 else 0.0))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.IntegerType) +:
        (names :+ "label").map(n => org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType)))
    val labeled = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).cache()
    labeled.count()
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val trees =
      try ClusterExplainer.groupTrees(labeled, names, maxDepth = 5, seed = 42L, maxFit = 200)
      finally {
        org.apache.spark.sql.graft.ListenerProbe.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    // at most 4 input partitions x 2 groups x 200 rows of the 12,000 reach
    // the shuffle
    assert(shuffled.get > 0 && shuffled.get <= 4 * 2 * 200, s"${shuffled.get} rows shuffled")
    assert(trees.map(_._1) == Seq(0, 1))
    trees.foreach { case (cid, rs) =>
      assert(bits(rs) == bits(mllibRules(labeled.filter(col("cluster_id") === cid), names, 200)),
        s"cluster $cid")
    }
    labeled.unpersist()
  }
}

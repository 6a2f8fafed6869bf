package graft.explain

import org.apache.spark.ml.classification.{DecisionTreeClassifier, GBTClassifier, RandomForestClassifier}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fault clustering + rule interpretation (M9–M13): the Spark rebuild of
  * the reference's SOM/k-means clustering
  * (/root/reference/backendClasses/SOM.py:218-230, H2oKmeans.py:13-50)
  * and decision-tree rule extraction
  * (SklearnDecisionTree.py:36-106, DQTestToolHelper.py:303-324).
  *
  * Faulty rows are clustered on their per-rule score vectors with MLlib
  * KMeans (deterministic seed); each cluster is explained by training a
  * DecisionTreeClassifier on normal-vs-cluster labels (J4 union) and
  * recursing the tree into human-readable rules. The reference's k-means
  * grid quirk (picking *max* MSE, H2oKmeans.py:28) is deliberately NOT
  * replicated (SURVEY.md §4).
  */
object ClusterExplainer {

  /** Deterministic bounded sample for iterative model fits: distributed
    * top-k by id-hash (TakeOrdered — no full sort, no single-task scan),
    * then ONE partition so the iterative MLlib jobs don't pay 32-task
    * scheduling overhead per iteration. The FIT is bounded at any corpus
    * size; assignment/transform stays partition-parallel over the full
    * input. (The reference likewise clusters only the suspicious subset,
    * DQTestToolHelper.py:251-256.) Shared by every bounded fit in the
    * repo (KMeans here, the batch SOM, the SOM oracle fixture) so the
    * sampling contract cannot drift between them. */
  private[graft] def fitSample(assembled: DataFrame, hashCols: Seq[String], maxFit: Int): DataFrame =
    assembled.orderBy(xxhash64(hashCols.map(col): _*))
      .limit(maxFit).coalesce(1)

  /** Assign cluster ids to faulty rows by k-means over score columns:
    * fit on a bounded deterministic sample, assign every row in parallel.
    * Returns (image_id, cluster_id). */
  def clusterFaulty(
      faulty: DataFrame,
      scoreCols: Seq[String],
      k: Int,
      seed: Long = 42L,
      maxFit: Int = 10000): DataFrame = {
    val spark = faulty.sparkSession
    import spark.implicits._
    // vector assembly via the codegen'd array_to_vector: no per-row
    // object serde on the corpus-sized ASSIGNMENT pass
    val assembled = faulty.select(col("image_id"),
      org.apache.spark.ml.functions.array_to_vector(
        array(scoreCols.map(c => col(c).cast("double")): _*)).as("features"))
      .cache()
    val sample = fitSample(assembled, Seq("image_id"), maxFit).cache()
    val n = sample.count()
    if (n == 0) {
      assembled.unpersist()
      return spark.emptyDataFrame
        .withColumn("image_id", lit("")).withColumn("cluster_id", lit(0)).limit(0)
    }
    val kk = math.min(k.toLong, n).toInt
    val model = new KMeans().setK(kk).setSeed(seed).setMaxIter(10)
      .fit(sample)
    sample.unpersist()
    val out = model.transform(assembled)
      .select(col("image_id"), col("prediction").as("cluster_id"))
    // the cache served the sample count + KMeans fit; release it before
    // returning (unpersist is lazy-safe — the caller's first action on
    // `out` recomputes the cheap row→vector map once) so repeated calls
    // in one session don't pin one faulty-frame copy each
    assembled.unpersist()
    out
  }

  /** Faulty-attribute selection (M12): score columns whose cluster mean
    * exceeds the 70th percentile of all cluster means
    * (DQTestToolHelper.py:299-301). */
  def faultyAttributes(clusterRows: DataFrame, scoreCols: Seq[String]): Seq[String] = {
    val means = clusterRows.select(scoreCols.map(c => avg(col(c)).as(c)): _*).head()
    val vals = scoreCols.indices.map(i => means.getDouble(i))
    val sorted = vals.sorted
    // numpy-style linear-interpolated percentile (np.percentile default)
    val pos = 0.7 * (sorted.size - 1)
    val lo = pos.toInt
    val frac = pos - lo
    val p70 =
      if (lo + 1 < sorted.size) sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
      else sorted(lo)
    scoreCols.zip(vals).filter(_._2 > p70).map(_._1)
  }

  /** Bounded assembled sample of `df` for the MLlib fits — same
    * deterministic-sample policy as [[fitSample]], ordered by the hash of
    * `orderCols` and then their VALUES, so equal-hash rows (identical
    * score vectors are common) arrive in a deterministic sequence
    * regardless of partition layout: MLlib's seeded samplers consume
    * rows in order, and exact duplicates are interchangeable, so
    * value-order ties pin the fit. Emits `features` (a vector of
    * `featureCols`) plus the order columns that are not features. */
  private def boundedVectors(
      df: DataFrame,
      featureCols: Seq[String],
      orderCols: Seq[String],
      maxFit: Int): DataFrame =
    df.orderBy((xxhash64(orderCols.map(col): _*) +: orderCols.map(col)): _*)
      .limit(maxFit)
      // codegen'd array_to_vector: no object serde, row order preserved
      .select((org.apache.spark.ml.functions.array_to_vector(
        array(featureCols.map(col): _*)).as("features") +:
        orderCols.diff(featureCols).map(col)): _*)
      .coalesce(1)

  /** Fit one tree model on the bounded assembled (features, label)
    * sample of `labeled` and read the root of the tree `fit` returns as
    * [[TreeRule]]s. */
  private def fitTreeRules(labeled: DataFrame, featureCols: Seq[String], maxFit: Int)(
      fit: DataFrame => Node): Seq[TreeRule] = {
    val assembled = boundedVectors(
      labeled.select((featureCols.map(c => col(c).cast("double")) :+
        col("label").cast("double").as("label")): _*),
      featureCols, featureCols :+ "label", maxFit).cache()
    val root = fit(assembled)
    assembled.unpersist()
    structuredRulesFrom(root, featureCols, Nil)
  }

  /** Train a tree on labeled (valid=0 / suspicious=1) rows and extract
    * readable rules — treeToRules (SklearnDecisionTree.py:84-106). */
  def treeRules(
      labeled: DataFrame, // featureCols ++ label (0.0/1.0)
      featureCols: Seq[String],
      maxDepth: Int = 5,
      seed: Long = 42L,
      maxFit: Int = 20000): Seq[String] =
    treeStructuredRules(labeled, featureCols, maxDepth, seed, maxFit).map(_.render)

  /** [[treeRules]] returning structured [[TreeRule]]s (leaf order) for
    * machine verification alongside the rendered strings. */
  def treeStructuredRules(
      labeled: DataFrame,
      featureCols: Seq[String],
      maxDepth: Int = 5,
      seed: Long = 42L,
      maxFit: Int = 20000): Seq[TreeRule] =
    fitTreeRules(labeled, featureCols, maxFit)(a =>
      new DecisionTreeClassifier().setMaxDepth(maxDepth).setSeed(seed).fit(a).rootNode)

  /** Random-forest variant of the interpretation model zoo (M11: the
    * reference trains RF n=10 and extracts its 6th estimator,
    * SklearnRandomForest.py:17-23; we extract the first tree —
    * deliberate, deterministic divergence). */
  def forestRules(
      labeled: DataFrame,
      featureCols: Seq[String],
      numTrees: Int = 10,
      maxDepth: Int = 5,
      seed: Long = 42L,
      maxFit: Int = 20000): Seq[String] =
    fitTreeRules(labeled, featureCols, maxFit)(a =>
      new RandomForestClassifier().setNumTrees(numTrees).setMaxDepth(maxDepth)
        .setSeed(seed).fit(a).trees.head.rootNode).map(_.render)

  /** Gradient-boosted variant (M11: H2oGradientBoosting.py:11-25,
    * ntrees=1 depth=5 — a single boosted stump-tree, rules from it). */
  def gbtRules(
      labeled: DataFrame,
      featureCols: Seq[String],
      maxDepth: Int = 5,
      seed: Long = 42L,
      maxFit: Int = 20000): Seq[String] =
    fitTreeRules(labeled, featureCols, maxFit)(a =>
      new GBTClassifier().setMaxIter(1).setMaxDepth(maxDepth).setSeed(seed)
        .fit(a).trees.head.rootNode).map(_.render)

  /** Grid search (M4): driver-side loop of Spark fits over candidate k,
    * elbow rule — take the smallest k after which a larger k no longer
    * cuts training cost by ≥10%. Deliberately NOT replicating the
    * reference's max-MSE pick (H2oKmeans.py:28, documented reference
    * bug; SURVEY.md §4); raw min-cost is degenerate (monotone in k). */
  def bestK(
      faulty: DataFrame,
      scoreCols: Seq[String],
      ks: Seq[Int],
      seed: Long = 42L,
      maxFit: Int = 10000): Int = {
    val assembled = boundedVectors(faulty, scoreCols, scoreCols, maxFit).cache()
    val n = assembled.count()
    val candidates = ks.filter(k => k >= 2 && k <= n).sorted
    require(candidates.nonEmpty, "need at least one candidate k in [2, n]")
    val costs = candidates.map { k =>
      val m = new KMeans().setK(k).setSeed(seed).setMaxIter(10).fit(assembled)
      k -> m.summary.trainingCost
    }
    assembled.unpersist()
    var best = costs.head
    costs.tail.foreach { case (k, c) =>
      if (c < 0.9 * best._2) best = (k, c)
    }
    best._1
  }

  /** One machine-checkable rule predicate: `feature op threshold` with
    * op ∈ {"<=", ">"} and the tree's FULL-precision threshold (the
    * rendered rule string rounds to 4dp for humans; verification joins
    * evaluate this exact double, identically readable by any engine
    * from the parquet fixture). */
  final case class Conjunct(feature: String, op: String, threshold: Double) {
    // Locale.ROOT, not the f-interpolator: the rendered string is
    // hash-compared against DuckDB's printf('%.4f') rebuild
    // (qf_cluster_rules), which always uses '.', while f"%.4f" follows
    // the JVM default locale and would emit ',' on e.g. de_DE.
    def render: String = String.format(java.util.Locale.ROOT,
      "%s %s %.4f", feature, op, Double.box(threshold))
  }

  /** One leaf of a trained tree as data: the root-first conjunct path
    * plus the leaf verdict. Rules of one tree are mutually exclusive
    * and exhaustive over the whole feature space, so any engine can
    * re-evaluate them row-by-row and the per-rule match counts must
    * partition the input — the qf_cluster_rule_support oracle. */
  final case class TreeRule(conjuncts: List[Conjunct], verdict: String) {
    def render: String = {
      val cond =
        if (conjuncts.isEmpty) "always"
        else conjuncts.map(_.render).mkString(" AND ")
      s"IF $cond THEN $verdict"
    }
  }

  /** Recurse MLlib tree nodes → structured [[TreeRule]]s in deterministic
    * left-to-right leaf order (driver-side, like the reference's
    * treeToCode — pure interpretation, no data-plane cost). Categorical
    * splits cannot occur: every feature is a raw double score assembled
    * without nominal metadata, so MLlib treats all of them as
    * continuous. */
  private def structuredRulesFrom(
      node: Node, names: Seq[String], path: List[Conjunct]): Seq[TreeRule] =
    node match {
      case leaf: LeafNode =>
        val verdict = if (leaf.prediction >= 0.5) "invalid" else "valid"
        Seq(TreeRule(path.reverse, verdict))
      case in: InternalNode =>
        val (lc, rc) = in.split match {
          case cs: ContinuousSplit =>
            val f = names(cs.featureIndex)
            (Conjunct(f, "<=", cs.threshold), Conjunct(f, ">", cs.threshold))
          case _: CategoricalSplit =>
            sys.error("categorical split on all-continuous score features")
        }
        structuredRulesFrom(in.leftChild, names, lc :: path) ++
          structuredRulesFrom(in.rightChild, names, rc :: path)
    }

  /** One cluster's tree leaf in verification form: `rule_id` is the
    * deterministic left-to-right leaf index within the cluster's tree;
    * `rule` is the human-readable rendering (what [[explain]] emits). */
  final case class ClusterRule(
      cluster_id: Int, rule_id: Int, verdict: String, rule: String,
      conjuncts: List[Conjunct])

  /** Full interpretation pass: cluster the faulty rows, then per cluster
    * train normal-vs-cluster trees and emit (cluster_id, rule). */
  def explain(
      scored: DataFrame, // needs image_id, invalidity_score, score_* cols
      scoreCols: Seq[String],
      faultyThreshold: Double,
      normalThreshold: Double,
      k: Int = 4): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    // rules-only path: skip the labeled-union cache + count that only
    // the structured (oracle-verification) callers consume
    val rules = structuredCore(
      scored, scoreCols, faultyThreshold, normalThreshold, k,
      needLabeled = false)._1
    spark.createDataset(
      rules.map(r => (r.cluster_id, r.rule)).sortBy(identity))
      .toDF("cluster_id", "rule")
  }

  /** Structured variant of [[explain]]: same clustering and per-cluster
    * tree fits, returning (a) every rule as machine-checkable conjuncts
    * ([[ClusterRule]], leaf order) and (b) the per-cluster labeled
    * training rows (cluster_id, image_id, label, scoreCols*) as a CACHED
    * frame — callers must unpersist it. An independent engine can then
    * re-evaluate every rule against the data it was trained on: the
    * rules of one tree must partition the cluster's labeled rows
    * (qf_cluster_rule_support oracle). */
  def explainStructured(
      scored: DataFrame,
      scoreCols: Seq[String],
      faultyThreshold: Double,
      normalThreshold: Double,
      k: Int = 4): (Seq[ClusterRule], DataFrame) =
    structuredCore(scored, scoreCols, faultyThreshold, normalThreshold, k,
      needLabeled = true)

  private def structuredCore(
      scored: DataFrame,
      scoreCols: Seq[String],
      faultyThreshold: Double,
      normalThreshold: Double,
      k: Int,
      needLabeled: Boolean): (Seq[ClusterRule], DataFrame) = {
    val spark = scored.sparkSession
    import spark.implicits._
    val faulty = scored.filter(col("invalidity_score") >= faultyThreshold).cache()
    // Bounded normal-side sample for tree training — hash-ordered like
    // fitSample, NOT a bare limit: limit-after-shuffle takes whichever
    // partitions answer first, so the trained rules would vary with
    // partition layout.
    val normal = scored.filter(col("invalidity_score") <= normalThreshold)
      .orderBy(xxhash64(col("image_id"))).limit(2000).cache()
    val clusters = clusterFaulty(faulty, scoreCols, k).cache()
    // Per-cluster tree fits are independent tiny MLlib jobs; run them as
    // CONCURRENT Spark actions so their fixed scheduling latency overlaps
    // (results are deterministic per cluster and re-ordered by id below).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val cids = clusters.select("cluster_id").distinct().as[Int].collect().sorted
    val cols = col("image_id") +: scoreCols.map(col)
    val futures = cids.toSeq.map { cid =>
      Future {
        val clusterRows = faulty.join(
          clusters.filter(col("cluster_id") === cid), Seq("image_id"), "left_semi")
        val labeled = normal.select((cols :+ lit(0.0).as("label")): _*)
          .unionByName(
            clusterRows.select((cols :+ lit(1.0).as("label")): _*))
        val rs = treeStructuredRules(labeled, scoreCols).zipWithIndex.map {
          case (r, i) => ClusterRule(cid, i, r.verdict, r.render, r.conjuncts)
        }
        (rs, labeled.withColumn("cluster_id", lit(cid)))
      }
    }
    val perCluster = Await.result(
      Future.sequence(futures), scala.concurrent.duration.Duration(600, "s"))
    val rules = perCluster.flatMap(_._1)
    // Materialize the labeled union BEFORE unpersisting its parents so
    // the returned frame doesn't silently refit upstream on evaluation.
    // Rules-only callers (needLabeled=false) skip the union job entirely
    // and get an empty placeholder frame (never cached, never counted).
    val labeledAll =
      if (needLabeled)
        perCluster.map(_._2)
          .reduceOption(_ unionByName _)
          .getOrElse(normal.limit(0).select((cols :+ lit(0.0).as("label")): _*)
            .withColumn("cluster_id", lit(0)))
          .cache()
      else normal.limit(0).select((cols :+ lit(0.0).as("label")): _*)
        .withColumn("cluster_id", lit(0))
    if (needLabeled) labeledAll.count(): Unit
    faulty.unpersist(); normal.unpersist(); clusters.unpersist()
    (rules, labeledAll)
  }
}

package graft.explain

import org.apache.spark.ml.classification.{GBTClassifier, RandomForestClassifier}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.ml.tree.graft.LocalCart
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Fault clustering + rule interpretation (M9–M13): the Spark rebuild of
  * the reference's SOM/k-means clustering
  * (/root/reference/backendClasses/SOM.py:218-230, H2oKmeans.py:13-50)
  * and decision-tree rule extraction
  * (SklearnDecisionTree.py:36-106, DQTestToolHelper.py:303-324).
  *
  * Faulty rows are clustered on their per-rule score vectors with MLlib
  * KMeans (deterministic seed); each cluster is explained by a CART tree
  * on normal-vs-cluster labels (J4 union), recursed into human-readable
  * rules. The trees are MLlib's `DecisionTreeClassifier` fitted locally
  * ([[org.apache.spark.ml.tree.graft.LocalCart]]): every cluster's
  * training set is a bounded sample, and each map task forwards at most
  * that many of a cluster's rows to the shuffle, so all trees are built
  * and fitted in one Spark job, each inside one task ([[groupTrees]]; a
  * single tree is one group). Every other bounded fit takes its rows from
  * [[fitSample]], and every KMeans fit runs through [[kmeansFits]]. The
  * reference's k-means grid quirk (picking *max* MSE, H2oKmeans.py:28) is
  * deliberately NOT replicated (SURVEY.md §4).
  */
object ClusterExplainer {

  /** The sample of every bounded fit: the first `maxFit` rows by
    * xxhash64 of `orderCols`, then by their values (a distributed top-k,
    * TakeOrdered: no full sort, no single-task scan), in ONE partition so
    * iterative fits pay no per-task scheduling per iteration. The value
    * order breaks hash ties, so the sample and its row order, which
    * MLlib's seeded samplers and the SOM consume, do not depend on the
    * partition layout. Only the fit is bounded; assignment stays
    * partition-parallel over the full input (the reference likewise
    * clusters only the suspicious subset, DQTestToolHelper.py:251-256). */
  private[graft] def fitSample(df: DataFrame, orderCols: Seq[String], maxFit: Int): DataFrame = {
    val keys = orderCols.map(col)
    df.orderBy((xxhash64(keys: _*) +: keys): _*).limit(maxFit).coalesce(1)
  }

  /** Every KMeans fit in the repo: caches `sample` (a `features` vector
    * column), counts its n rows and fits one model per k of `ks(n)`, k
    * clamped to [1, n], with `seed` and 10 iterations. The cache is
    * released on every exit, including a `require` failing in `ks`. */
  private[graft] def kmeansFits(sample: DataFrame, seed: Long)(
      ks: Long => Seq[Int]): Seq[KMeansModel] = {
    val cached = sample.cache()
    try {
      val n = cached.count()
      ks(n).map(k => new KMeans().setK(math.max(1L, math.min(k.toLong, n)).toInt)
        .setSeed(seed).setMaxIter(10).fit(cached))
    } finally cached.unpersist()
  }

  /** Assign cluster ids to faulty rows by k-means over score columns:
    * fit on a bounded deterministic sample, assign every row in parallel.
    * Returns (image_id, cluster_id). */
  def clusterFaulty(
      faulty: DataFrame,
      scoreCols: Seq[String],
      k: Int,
      seed: Long = 42L,
      maxFit: Int = 10000): DataFrame =
    kmeansAssign(faulty, scoreCols, k, seed, maxFit, Seq("image_id"))

  /** [[clusterFaulty]] carrying the `keep` columns of `faulty` (which
    * include `image_id`) next to `cluster_id`. */
  private def kmeansAssign(
      faulty: DataFrame,
      scoreCols: Seq[String],
      k: Int,
      seed: Long,
      maxFit: Int,
      keep: Seq[String]): DataFrame = {
    // vector assembly via the codegen'd array_to_vector: no per-row
    // object serde on the corpus-sized ASSIGNMENT pass
    val assembled = faulty.select((keep.map(col) :+
      array_to_vector(array(scoreCols.map(c => col(c).cast("double")): _*)).as("features")): _*)
    val model = kmeansFits(fitSample(assembled, Seq("image_id"), maxFit), seed)(
      n => if (n == 0) Nil else Seq(k)).headOption
    model.fold(faulty.select((keep.map(col) :+ lit(0).as("cluster_id")): _*).limit(0))(
      _.transform(assembled).select((keep.map(col) :+ col("prediction").as("cluster_id")): _*))
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

  /** Fit one MLlib tree model (the forest or GBT variant) on the
    * bounded (features, label) sample of `labeled` — the [[fitSample]]
    * of (features, label), features assembled by the codegen'd
    * array_to_vector — and read the root of the tree `fit` returns as
    * [[TreeRule]]s. */
  private def fitTreeRules(labeled: DataFrame, featureCols: Seq[String], maxFit: Int)(
      fit: DataFrame => Node): Seq[TreeRule] = {
    val assembled = fitSample(labeled.select((featureCols.map(c => col(c).cast("double")) :+
        col("label").cast("double").as("label")): _*), featureCols :+ "label", maxFit)
      .select(array_to_vector(array(featureCols.map(col): _*)).as("features"), col("label"))
      .cache()
    try structuredRulesFrom(fit(assembled), featureCols, Nil)
    finally assembled.unpersist()
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
    * machine verification alongside the rendered strings: the tree of
    * `labeled` as the one group of [[fitGroups]]. An input without a
    * label-1 row gets MLlib's single `valid` leaf. */
  def treeStructuredRules(
      labeled: DataFrame,
      featureCols: Seq[String],
      maxDepth: Int = 5,
      seed: Long = 42L,
      maxFit: Int = 20000): Seq[TreeRule] = {
    val trees = fitGroups(labeled.withColumn("cluster_id", lit(0)), featureCols, maxDepth, seed, maxFit)
    require(trees.nonEmpty, "a tree needs a non-empty training set")
    trees.head._3
  }

  /** The consecutive `cluster_id` (column 0) groups of a row stream sorted
    * by cluster, each cut to its first `maxFit` rows. */
  private def firstRows(rows: Iterator[Row], maxFit: Int): Iterator[(Int, Seq[Row])] = {
    val it = rows.buffered
    Iterator.continually(it).takeWhile(_.hasNext).map { _ =>
      val cid = it.head.getInt(0)
      val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (it.hasNext && it.head.getInt(0) == cid) {
        val r = it.next()
        if (kept.size < maxFit) kept += r
      }
      (cid, kept.toSeq)
    }
  }

  /** [[fitGroups]]' trees of the groups that held a label-1 row, as
    * (cluster id, rules) sorted by cluster id. */
  private[graft] def groupTrees(
      labeled: DataFrame,
      featureCols: Seq[String],
      maxDepth: Int,
      seed: Long,
      maxFit: Int): Seq[(Int, Seq[TreeRule])] =
    fitGroups(labeled, featureCols, maxDepth, seed, maxFit).collect {
      case (cid, true, rules) => cid -> rules
    }

  /** One tree per `cluster_id` group of `labeled` (featureCols ++ label),
    * all in ONE Spark job, as (cluster id, whether the group's training
    * set held a label-1 row, rules) sorted by cluster id. A group's
    * training set is its first `maxFit` rows in [[fitSample]]'s order of
    * (features, label) — (xxhash64(features, label), features, label).
    * Those rows are among the first `maxFit` of the group's share of each
    * input partition, so every map task sorts its share and forwards only
    * those; the groups are then hashed to partitions, sorted again and
    * each tree is fitted inside the task that holds its group. Every
    * local tree of the explain layer is fitted here. */
  private def fitGroups(
      labeled: DataFrame,
      featureCols: Seq[String],
      maxDepth: Int,
      seed: Long,
      maxFit: Int): Seq[(Int, Boolean, Seq[TreeRule])] = {
    val nf = featureCols.size
    val fs = featureCols.indices.map(i => col(s"_f$i"))
    val rows = labeled.select((col("cluster_id") +: featureCols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double").as(s"_f$i") } :+ col("label").cast("double").as("_label")): _*)
    val order = col("cluster_id") +: xxhash64((fs :+ col("_label")): _*) +: fs :+ col("_label")
    rows.sortWithinPartitions(order: _*)
      .mapPartitions(firstRows(_, maxFit).flatMap(_._2))(Encoders.row(rows.schema))
      .repartition(col("cluster_id"))
      .sortWithinPartitions(order: _*)
      .rdd.mapPartitions { it =>
        firstRows(it, maxFit).map { case (cid, group) =>
          val labels = group.map(_.getDouble(nf + 1)).toArray
          val root = LocalCart.fit(group.map(r => Array.tabulate(nf)(i => r.getDouble(1 + i))).toArray,
            labels, maxDepth, seed)
          (cid, labels.contains(1.0), structuredRulesFrom(root, featureCols, Nil))
        }
      }.collect().sortBy(_._1).toSeq
  }

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
    val sample = fitSample(faulty, scoreCols, maxFit)
      .select(array_to_vector(array(scoreCols.map(col): _*)).as("features"))
    val costs = kmeansFits(sample, seed) { n =>
      val candidates = ks.filter(k => k >= 2 && k <= n).sorted
      require(candidates.nonEmpty, "need at least one candidate k in [2, n]")
      candidates
    }.map(m => m.getK -> m.summary.trainingCost)
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
  private[graft] def structuredRulesFrom(
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
    val faulty = scored.filter(col("invalidity_score") >= faultyThreshold).cache()
    // Bounded normal-side sample for tree training — fitSample, NOT a
    // bare limit: limit-after-shuffle takes whichever partitions answer
    // first, so the trained rules would vary with partition layout.
    val normal = fitSample(scored.filter(col("invalidity_score") <= normalThreshold),
      Seq("image_id"), 2000).cache()
    val cols = col("image_id") +: scoreCols.map(col)
    // Every cluster's training set is the normal rows (label 0) plus the
    // cluster's own rows (label 1), so each normal row is copied once per
    // possible cluster id. A group left with no row of its own (k-means may
    // return fewer than k centres, or a centre nearest to no row) gets no
    // rules: its at most 2,000 normal rows all fit in `maxFit`, so a group
    // keeps a label-1 row exactly when it has one.
    val labeledAll = normal
      .select((cols :+ lit(0.0).as("label") :+
        explode(array((0 until k).map(lit): _*)).as("cluster_id")): _*)
      .unionByName(kmeansAssign(faulty, scoreCols, k, 42L, 10000, "image_id" +: scoreCols)
        .select((cols :+ lit(1.0).as("label") :+ col("cluster_id")): _*))
    val fitted = groupTrees(labeledAll, scoreCols, maxDepth = 5, seed = 42L, maxFit = 20000)
    val rules = fitted.flatMap { case (cid, rs) =>
      rs.zipWithIndex.map { case (r, i) => ClusterRule(cid, i, r.verdict, r.render, r.conjuncts) }
    }
    // Materialize the labeled rows BEFORE unpersisting their parents so
    // the returned frame doesn't silently refit upstream on evaluation.
    // Rules-only callers (needLabeled=false) get the frame uncached and
    // never evaluated.
    val labeled = labeledAll.filter(col("cluster_id").isin(fitted.map(_._1): _*))
    if (needLabeled) labeled.cache().count(): Unit
    faulty.unpersist(); normal.unpersist()
    (rules, labeled)
  }
}

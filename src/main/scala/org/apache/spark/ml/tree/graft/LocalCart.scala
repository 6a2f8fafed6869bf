package org.apache.spark.ml.tree.graft

import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.tree.{ContinuousSplit, LearningNode, Node, Split}
import org.apache.spark.ml.tree.impl.{DecisionTreeMetadata, DTStatsAggregator, RandomForest}
import org.apache.spark.mllib.tree.configuration.QuantileStrategy
import org.apache.spark.mllib.tree.impurity.Gini
import org.apache.spark.mllib.tree.model.ImpurityStats
import org.apache.spark.util.random.{BernoulliSampler, XORShiftRandom}

/** MLlib's `DecisionTreeClassifier` (gini, all-continuous features, one
  * tree, no bootstrap, `minInstancesPerNode` 1, `minInfoGain` 0) fitted
  * inside one task over rows held in memory.
  *
  * Only MLlib's distributed level loop is replaced: the split
  * candidates (`RandomForest.findSplitsForContinuousFeature`, on the
  * same seeded Bernoulli sample above max(maxBins², 10,000) rows), the
  * per-node bin statistics (`DTStatsAggregator`), the best-split search
  * and its tie order (`RandomForest.binsToBestSplit`), the leaf rules and
  * the `prune` pass of `LearningNode.toNode` are MLlib's own code, reached
  * from this package because they are `private[tree]`. Every row has
  * weight 1, so each per-bin statistic is an exact integer count and the
  * order in which nodes are grown cannot change the tree. The result
  * equals `new DecisionTreeClassifier().setMaxDepth(maxDepth)
  * .setSeed(seed).fit(df).rootNode` for a one-partition `df` holding the
  * same rows in the same order.
  */
object LocalCart {

  /** MLlib's default `maxBins`. */
  private val MaxBins = 32

  def fit(
      features: Array[Array[Double]],
      labels: Array[Double],
      maxDepth: Int,
      seed: Long): Node = {
    require(features.nonEmpty && features.length == labels.length,
      "a tree needs a non-empty training set with one label per row")
    val numFeatures = features.head.length
    require(numFeatures > 0 && features.forall(_.length == numFeatures),
      "every row needs the same non-zero number of features")
    require(features.forall(_.forall(v => !v.isNaN)), "features must not be NaN")
    // the classifier derives the class count from the largest label
    val numClasses = labels.max.toInt + 1
    require(labels.forall(l => l >= 0 && l == l.toInt && l < numClasses),
      "labels must be whole numbers in [0, numClasses)")
    val n = features.length.toLong
    val bins = math.min(MaxBins.toLong, n).toInt
    val metadata = new DecisionTreeMetadata(numFeatures, n, n.toDouble, numClasses, bins,
      Map.empty, Set.empty, Array.fill(numFeatures)(bins), Gini, QuantileStrategy.Sort,
      maxDepth, 1, 0.0, 0.0, 1, numFeatures)

    // RandomForest.findSplits: a one-partition RDD.sample whose seed is
    // XORShiftRandom(seed).nextInt() and whose partition-0 sampler seed is
    // the first nextLong of a java.util.Random on it
    val required = math.max(bins * bins, 10000)
    val sample =
      if (required < n) {
        val sampler = new BernoulliSampler[Array[Double]](required.toDouble / n)
        sampler.setSeed(
          new java.util.Random(new XORShiftRandom(seed).nextInt().toLong).nextLong())
        sampler.sample(features.iterator).toArray
      } else features
    val splits: Array[Array[Split]] = Array.tabulate(numFeatures) { f =>
      // zeros are left out of the value counts, as in findSplitsBySorting
      val nonZero = sample.iterator.map(_(f)).filter(_ != 0.0).toArray
      val cuts =
        if (nonZero.isEmpty) Array.emptyDoubleArray
        else RandomForest.findSplitsForContinuousFeature(
          nonZero.groupMapReduce(identity)(_ => 1.0)(_ + _), nonZero.length.toLong, metadata, f)
      metadata.setNumSplits(f, cuts.length)
      cuts.map(t => new ContinuousSplit(f, t): Split)
    }
    // TreePoint.findBin: bin b holds the values in (threshold(b-1), threshold(b)]
    val thresholds = splits.map(_.map(_.asInstanceOf[ContinuousSplit].threshold))
    val binned = features.map { row =>
      Array.tabulate(numFeatures) { f =>
        val idx = java.util.Arrays.binarySearch(thresholds(f), row(f))
        if (idx >= 0) idx else -idx - 1
      }
    }

    def grow(node: LearningNode, rows: Array[Int]): Unit = {
      val agg = new DTStatsAggregator(metadata, None)
      rows.foreach { i =>
        var f = 0
        while (f < numFeatures) { agg.update(f, binned(i)(f), labels(i), 1, 1.0); f += 1 }
        agg.updateParent(labels(i), 1, 1.0)
      }
      val (split, stats) = RandomForest.binsToBestSplit(agg, splits, None, node)
      val level = LearningNode.indexToLevel(node.id)
      node.isLeaf = stats.gain <= 0 || level == maxDepth
      node.stats = stats
      if (!node.isLeaf) {
        node.split = Some(split)
        val childIsLeaf = level + 1 == maxDepth
        val leftIsLeaf = childIsLeaf || math.abs(stats.leftImpurity) < Utils.EPSILON
        val rightIsLeaf = childIsLeaf || math.abs(stats.rightImpurity) < Utils.EPSILON
        val left = LearningNode(LearningNode.leftChildIndex(node.id), leftIsLeaf,
          ImpurityStats.getEmptyImpurityStats(stats.leftImpurityCalculator))
        val right = LearningNode(LearningNode.rightChildIndex(node.id), rightIsLeaf,
          ImpurityStats.getEmptyImpurityStats(stats.rightImpurityCalculator))
        node.leftChild = Some(left)
        node.rightChild = Some(right)
        val f = split.featureIndex
        val (l, r) = rows.partition(i => split.shouldGoLeft(binned(i)(f), splits(f)))
        if (!leftIsLeaf) grow(left, l)
        if (!rightIsLeaf) grow(right, r)
      }
    }

    val root = LearningNode.emptyNode(1)
    grow(root, features.indices.toArray)
    root.toNode(prune = true)
  }
}

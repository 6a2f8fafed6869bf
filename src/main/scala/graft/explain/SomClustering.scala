package graft.explain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch self-organizing map (M9): the Spark-native rebuild of the
  * reference's per-row TensorFlow SOM
  * (/root/reference/backendClasses/SOM.py:36-230; constructed 5×5 with
  * 400 online iterations at DQTestToolHelper.py:255, α=0.3,
  * σ₀=max(m,n)/2, neighbourhood exp(−d²/σ_t²) with linear decay
  * σ_t=σ₀·(1−t/T), BMU = first argmin Euclidean, clusters = rows
  * grouped by BMU cell, SOM.py:218-230).
  *
  * The reference feeds rows one at a time through a TF session
  * (SOM.py:160-168) — O(rows·iters) sequential updates, the
  * single-node bottleneck SURVEY.md §5 calls out. The standard
  * distributed formulation is the BATCH SOM: each epoch assigns every
  * row its BMU in parallel, reduces to m·n (sum-vector, count)
  * partials with a map-side combine, and the driver applies the
  * Gaussian-neighbourhood smoothing over the tiny m·n×m·n grid:
  *
  *   w_j ← Σ_b h_t(j,b)·S_b / Σ_b h_t(j,b)·C_b
  *
  * (S_b/C_b = per-BMU feature sums/counts, h_t the reference's kernel;
  * units with zero total mass keep their weights). One pass per epoch,
  * a 25-key shuffle, no learning rate — the batch update is the
  * closed-form fixed point of the reference's online rule at each
  * neighbourhood width, so α drops out. With σ→0 an epoch degenerates
  * to exactly one Lloyd (k-means) step over the occupied units, which
  * SomSpec asserts.
  *
  * BMU assignment is a pure Catalyst higher-order-function expression
  * over a literal codebook (no UDF, no serde): squared-distance fold
  * per unit, `array_position(array_min)` picks the FIRST minimal unit,
  * matching tf.argmin's tie rule (SOM.py:76-80) — and the left-to-right
  * fold order makes every distance bit-reproducible by any engine that
  * sums the squared differences in feature order, which is how the
  * qf_som_assign DuckDB oracle re-derives every BMU relationally.
  */
object SomClustering {

  /** Default bounded-fit sample size, shared with the SOM oracle
    * fixture writer so the two cannot drift. */
  val DefaultMaxFit: Int = 10000

  /** Trained map: `weights(u)` is the codebook vector of unit `u`;
    * grid location of `u` is (u / n, u % n) in row-major order, the
    * reference's `_neuron_locations` enumeration (SOM.py:144-152). */
  final case class SomModel(m: Int, n: Int, dim: Int, weights: Array[Array[Double]]) {
    require(weights.length == m * n, s"codebook must have ${m * n} units")
    def unitRow(u: Int): Int = u / n
    def unitCol(u: Int): Int = u % n
  }

  /** Deterministic N(0,1) init (the reference's tf.random_normal,
    * SOM.py:62-63, made reproducible): one seeded stream, row-major. */
  def initWeights(m: Int, n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(m * n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Squared-distance-argmin BMU: distances fold left-to-right over
    * features (acc starts at 0.0, and 0.0+d==d for the non-negative
    * squares, so the fold equals the plain in-order sum any other
    * engine computes); ties take the lowest unit index — the
    * array_position(array_min) first-match rule.
    *
    * Native expression (Exprs.SomBmu) with the codebook as a codegen
    * reference object, so every fit epoch's new weights reuse one
    * compiled plan; bit-identical to the typedlit-codebook
    * higher-order-function chain (SomSpec parity gate). */
  def bmuColumn(weights: Array[Array[Double]], features: Column): Column = {
    require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
      "codebook must be non-empty with uniform dimension")
    org.apache.spark.sql.graft.Exprs.somBmu(features, weights)
  }

  /** Fit the map. Epochs are Spark jobs over `data`; per epoch the only
    * shuffle carries (partition × m·n) keys × (dim+1) doubles, so an
    * epoch costs one scan regardless of corpus size — the scale
    * contract. The smoothing matrix is m·n × m·n on the driver (25×25
    * here), negligible.
    *
    * DETERMINISM: the per-epoch partials are keyed by
    * (input-partition-id, bmu) and the driver folds them in that sorted
    * order, so the floating-point summation order — and therefore the
    * fitted codebook — is bit-reproducible for any FIXED input
    * partitioning (a plain groupBy(bmu) would merge map-side partials
    * in shuffle-fetch order, which a real cluster randomizes run to
    * run). Repartitioning the input differently still changes the sums
    * at last-ulp, as with any distributed FP reduce.
    *
    * `data` should be cached by the caller if it is not a trivial scan
    * (fit reads it `epochs` times). */
  def fit(
      data: DataFrame,
      featureCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      sigma0: Double = -1.0,
      seed: Long = 42L): SomModel = {
    val dim = featureCols.size
    require(dim > 0, "need at least one feature column")
    val sig0 = if (sigma0 > 0) sigma0 else math.max(m, n) / 2.0
    val units = m * n
    // grid locations, row-major (SOM.py:144-152)
    val locs = Array.tabulate(units)(u => (u / n, u % n))
    val gridD2 = Array.tabulate(units, units) { (j, b) =>
      val dr = locs(j)._1 - locs(b)._1
      val dc = locs(j)._2 - locs(b)._2
      (dr * dr + dc * dc).toDouble
    }
    val spark0 = data.sparkSession
    import spark0.implicits._
    val assembled = data.select(
      array(featureCols.map(c => col(c).cast("double")): _*).as("arr"))
      .as[Array[Double]]
    var w = initWeights(m, n, dim, seed)
    var t = 0
    while (t < epochs) {
      // reference decay: σ_t = σ₀·(1 − t/T) (SOM.py:96-100); at the
      // last epoch the factor is 1/T, never zero
      val sigT = sig0 * (1.0 - t.toDouble / epochs)
      // single-stage epoch: a groupBy((pid, bmu)) Catalyst aggregate
      // would shuffle its 25-key partials and re-plan a 2-stage job
      // every epoch (~115 ms/epoch of pure latency on a bounded sample).
      // The mapPartitions pass accumulates the same per-(pid, bmu)
      // partials in per-partition row order and collects them directly:
      // one stage, no exchange, no per-epoch re-plan.
      val wLocal = w
      val unitsLocal = units
      val dimLocal = dim
      val partials = assembled.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val cnt = new Array[Long](unitsLocal)
        val sums = Array.fill(unitsLocal)(new Array[Double](dimLocal))
        it.foreach { arr =>
          // ragged/null rows cannot occur (arr = cast score columns);
          // skip defensively rather than fold them into unit 0
          if (arr != null && arr.length == dimLocal) {
            val b = org.apache.spark.sql.graft.Exprs.somBmuArray(arr, wLocal)
            if (b >= 0) {
              cnt(b) += 1L
              var i = 0
              while (i < dimLocal) { sums(b)(i) += arr(i); i += 1 }
            }
          }
        }
        (0 until unitsLocal).iterator.filter(cnt(_) > 0L)
          .map(b => (pid, b, cnt(b), sums(b)))
      }.collect()
        .sortBy(p => (p._1, p._2))
      val cnt = Array.fill(units)(0L)
      val sums = Array.fill(units)(Array.fill(dim)(0.0))
      partials.foreach { case (_, b, c, s) =>
        cnt(b) += c
        var i = 0
        while (i < dim) { sums(b)(i) += s(i); i += 1 }
      }
      val s2 = sigT * sigT
      w = Array.tabulate(units) { j =>
        var den = 0.0
        val num = Array.fill(dim)(0.0)
        var b = 0
        while (b < units) {
          if (cnt(b) > 0L) {
            // reference kernel exp(−d²/σ_t²) — σ², not 2σ² (SOM.py:106-109)
            val h = math.exp(-gridD2(j)(b) / s2)
            den += h * cnt(b)
            var i = 0
            while (i < dim) { num(i) += h * sums(b)(i); i += 1 }
          }
          b += 1
        }
        if (den > 0.0) num.map(_ / den) else w(j)
      }
      t += 1
    }
    SomModel(m, n, dim, w)
  }

  /** Map every row to its BMU cell (map_vects, SOM.py:195-216):
    * partition-parallel, pure expression, no shuffle. Emits
    * (idCol, bmu_unit, bmu_row, bmu_col). */
  def assign(
      data: DataFrame,
      idCol: String,
      featureCols: Seq[String],
      model: SomModel): DataFrame = {
    // fail fast: zip_with pads the shorter array with nulls, so a
    // feature list whose length differs from the codebook dim would
    // otherwise emit silent all-NULL bmu_unit
    require(featureCols.size == model.dim,
      s"got ${featureCols.size} feature columns for a dim-${model.dim} codebook")
    data.select(col(idCol),
      bmuColumn(model.weights,
        array(featureCols.map(c => col(c).cast("double")): _*)).as("bmu_unit"))
      .withColumn("bmu_row", (col("bmu_unit") / model.n).cast("int"))
      .withColumn("bmu_col", pmod(col("bmu_unit"), lit(model.n)).cast("int"))
  }

  /** M9 end-to-end with the repo's sanctioned fit policy (bounded
    * deterministic hash-ordered fit sample, full-parallel assignment —
    * same shape as ClusterExplainer.clusterFaulty): cluster faulty rows
    * by BMU cell. `cluster_id` is the BMU unit index, so there are at
    * most m·n groups — the reference's grouping contract
    * (SOM.py:218-230). Raise `maxFit` (or pass the full frame) to fit
    * on more data; each extra epoch stays a single pass. */
  def clusterFaulty(
      faulty: DataFrame,
      scoreCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      seed: Long = 42L,
      maxFit: Int = DefaultMaxFit): DataFrame = {
    // hash-order on the row id, NOT the score vector: score vectors are
    // heavily duplicated (pure fault signatures), and hash-ordering on
    // them would sort whole signatures before others — the bounded
    // sample must stay representative of every family. The sampling
    // policy itself is ClusterExplainer.fitSample, shared with KMeans.
    val sample = ClusterExplainer.fitSample(faulty, Seq("image_id"), maxFit)
      .select(scoreCols.map(c => col(c).cast("double")): _*)
      .cache()
    val model =
      try fit(sample, scoreCols, m, n, epochs, seed = seed)
      finally sample.unpersist()
    assign(faulty, "image_id", scoreCols, model)
      .select(col("image_id"), col("bmu_unit").as("cluster_id"))
  }
}

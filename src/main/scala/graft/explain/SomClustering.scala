package graft.explain

import org.apache.spark.sql.DataFrame
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
  * (SOM.py:160-168) — O(rows·iters) sequential updates. This is the
  * BATCH SOM: each epoch assigns every row its BMU, sums the rows into
  * m·n (sum-vector, count) cells, and applies the Gaussian-neighbourhood
  * smoothing over the tiny m·n×m·n grid:
  *
  *   w_j ← Σ_b h_t(j,b)·S_b / Σ_b h_t(j,b)·C_b
  *
  * (S_b/C_b = per-BMU feature sums/counts, h_t the reference's kernel;
  * units with zero total mass keep their weights). No learning rate —
  * the batch update is the closed-form fixed point of the reference's
  * online rule at each neighbourhood width, so α drops out. With σ→0 an
  * epoch degenerates to exactly one Lloyd (k-means) step over the
  * occupied units, which SomSpec asserts. The fit runs on a bounded
  * sample ([[ClusterExplainer.fitSample]]); the assignment is
  * partition-parallel over the full input.
  *
  * BMU assignment is a native column over the codebook
  * (`Exprs.somBmu`; no UDF, no serde): squared-distance fold per unit,
  * the FIRST minimal unit wins, matching tf.argmin's tie rule
  * (SOM.py:76-80) — and the left-to-right
  * fold order makes every distance bit-reproducible by any engine that
  * sums the squared differences in feature order, which is how the
  * qf_som_assign DuckDB oracle re-derives every BMU relationally.
  */
object SomClustering {

  /** Trained map: `weights(u)` is the codebook vector of unit `u`;
    * grid location of `u` is (u / n, u % n) in row-major order, the
    * reference's `_neuron_locations` enumeration (SOM.py:144-152). */
  final case class SomModel(m: Int, n: Int, dim: Int, weights: Array[Array[Double]]) {
    require(weights.length == m * n, s"codebook must have ${m * n} units")
  }

  /** Deterministic N(0,1) init (the reference's tf.random_normal,
    * SOM.py:62-63, made reproducible): one seeded stream, row-major. */
  def initWeights(m: Int, n: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(m * n)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Fit the map in ONE task: the input is coalesced to one partition,
    * buffered, and every epoch runs locally over it — BMU per row, per
    * unit counts and feature sums accumulated from 0.0 in row order, then
    * the smoothing — so the fit costs one job and one collect of the
    * codebook. The whole input is held in that task's memory, so callers
    * bound it ([[fitBounded]]). The codebook is a pure function of the
    * input's row order, which for a multi-partition input is its
    * partitions concatenated in partition order. */
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
    val gridD2 = Array.tabulate(units, units) { (j, b) =>
      val dr = j / n - b / n
      val dc = j % n - b % n
      (dr * dr + dc * dc).toDouble
    }
    val init = initWeights(m, n, dim, seed)
    val spark = data.sparkSession
    import spark.implicits._
    val weights = data.select(
      array(featureCols.map(c => col(c).cast("double")): _*).as("arr"))
      .as[Array[Double]]
      .coalesce(1)
      .mapPartitions { it =>
        // ragged/null rows cannot occur (arr = cast score columns);
        // skip defensively rather than fold them into unit 0
        val rows = it.filter(a => a != null && a.length == dim).toArray
        var w = init
        var t = 0
        while (t < epochs) {
          val cnt = new Array[Long](units)
          val sums = Array.fill(units)(new Array[Double](dim))
          rows.foreach { arr =>
            val b = org.apache.spark.sql.graft.Exprs.somBmuArray(arr, w)
            if (b >= 0) {
              cnt(b) += 1L
              var i = 0
              while (i < dim) { sums(b)(i) += arr(i); i += 1 }
            }
          }
          // reference decay: σ_t = σ₀·(1 − t/T) (SOM.py:96-100); at the
          // last epoch the factor is 1/T, never zero
          val sigT = sig0 * (1.0 - t.toDouble / epochs)
          val s2 = sigT * sigT
          val prev = w
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
            if (den > 0.0) num.map(_ / den) else prev(j)
          }
          t += 1
        }
        w.iterator
      }.collect()
    // a zero-partition input runs no task and keeps the init codebook
    SomModel(m, n, dim, if (weights.isEmpty) init else weights)
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
      org.apache.spark.sql.graft.Exprs.somBmu(
        array(featureCols.map(c => col(c).cast("double")): _*), model.weights).as("bmu_unit"))
      .withColumn("bmu_row", (col("bmu_unit") / model.n).cast("int"))
      .withColumn("bmu_col", pmod(col("bmu_unit"), lit(model.n)).cast("int"))
  }

  /** [[fit]] on the bounded sample ([[ClusterExplainer.fitSample]]) of
    * the faulty rows, ordered by their `image_id`. Shared by
    * [[clusterFaulty]] and the SOM oracle fixture writer. */
  def fitBounded(
      faulty: DataFrame,
      scoreCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      seed: Long = 42L,
      maxFit: Int = 10000): SomModel =
    // hash-order on the row id, NOT the score vector: score vectors are
    // heavily duplicated (pure fault signatures), and hash-ordering on
    // them would sort whole signatures before others — the bounded
    // sample must stay representative of every family
    fit(ClusterExplainer.fitSample(faulty, Seq("image_id"), maxFit), scoreCols, m, n, epochs,
      seed = seed)

  /** M9 end-to-end with the repo's sanctioned fit policy (bounded
    * deterministic hash-ordered fit sample, full-parallel assignment —
    * same shape as ClusterExplainer.clusterFaulty): cluster faulty rows
    * by BMU cell. `cluster_id` is the BMU unit index, so there are at
    * most m·n groups — the reference's grouping contract
    * (SOM.py:218-230). Raise `maxFit` to fit on more data; the fit
    * holds its whole sample in one task. */
  def clusterFaulty(
      faulty: DataFrame,
      scoreCols: Seq[String],
      m: Int = 5,
      n: Int = 5,
      epochs: Int = 20,
      seed: Long = 42L,
      maxFit: Int = 10000): DataFrame =
    assign(faulty, "image_id", scoreCols, fitBounded(faulty, scoreCols, m, n, epochs, seed, maxFit))
      .select(col("image_id"), col("bmu_unit").as("cluster_id"))
}

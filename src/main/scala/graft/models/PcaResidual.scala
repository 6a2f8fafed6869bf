package graft.models

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** PCA reconstruction-error constraint model — the multivariate member
  * of the model zoo (M2): the reference's detectors (H2O autoencoder +
  * PyOD PCA/KNN/MCD/…, /root/reference/backendClasses/
  * DQTestToolHelper.py:104-125) learn JOINT feature structure, which the
  * per-column z-score / rare-level scorer cannot: a row whose features
  * are each marginally normal but jointly anomalous (e.g. breaks an
  * x≈y correlation) scores clean per-column. This model restores that
  * semantic class, Spark-first:
  *
  *  - FIT = one mergeable aggregation pass over the corpus collecting
  *    count + first/second moments (d means, d stddevs, d(d−1)/2
  *    standardized cross-moments → the correlation matrix), then a
  *    driver-side cyclic-Jacobi eigendecomposition of the d×d matrix.
  *    d is the (small) declared numeric feature set, so driver state is
  *    O(d²) at any corpus size — no row ever leaves the executors.
  *  - SCORE = pure Column arithmetic (codegen'd, UDF-free): z-score the
  *    row, project onto the top-k principal components, and normalize
  *    the squared residual by the discarded eigenvalue mass (the
  *    expected residual energy under the fitted model); the ratio runs
  *    through the same (r−3)/6 clamp as the univariate z path.
  *
  * k defaults to the smallest component count explaining ≥
  * `varianceThreshold` of total variance (≥1, ≤ d−1 so the residual
  * subspace is never empty).
  */
object PcaResidual {

  final case class State(
      cols: Seq[String],
      means: Array[Double],
      stds: Array[Double],
      components: Array[Array[Double]], // top-k eigenvectors (rows), unit norm
      tailVariance: Double, // sum of discarded eigenvalues
      eigenvalues: Array[Double] = Array.empty) // λ per kept component

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors as columns), unsorted. Deterministic;
    * converges quadratically for the small d used here. */
  def jacobiEigen(mIn: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = mIn.length
    val a = mIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int): Unit = {
    val d = a.length
    val app = a(p)(p); val aqq = a(q)(q); val apq = a(p)(q)
    val theta = 0.5 * math.atan2(2.0 * apq, aqq - app)
    val c = math.cos(theta); val s = math.sin(theta)
    var i = 0
    while (i < d) {
      val aip = a(i)(p); val aiq = a(i)(q)
      a(i)(p) = c * aip - s * aiq
      a(i)(q) = s * aip + c * aiq
      i += 1
    }
    i = 0
    while (i < d) {
      val api = a(p)(i); val aqi = a(q)(i)
      a(p)(i) = c * api - s * aqi
      a(q)(i) = s * api + c * aqi
      i += 1
    }
    i = 0
    while (i < d) {
      val vip = v(i)(p); val viq = v(i)(q)
      v(i)(p) = c * vip - s * viq
      v(i)(q) = s * vip + c * viq
      i += 1
    }
  }

  /** Fit on the numeric columns of `df` (all numeric columns except
    * `idCol` when `cols` is empty). Zero-variance columns are excluded
    * from the model. `k = 0` selects by variance threshold. */
  def fit(
      df: DataFrame,
      idCol: String,
      cols: Seq[String] = Nil,
      k: Int = 0,
      varianceThreshold: Double = 0.95): State = {
    val numeric =
      if (cols.nonEmpty) cols
      else df.schema.fields
        .filter(f => f.name != idCol && f.dataType.isInstanceOf[NumericType])
        .map(_.name).toSeq
    require(numeric.size >= 2, s"PCA needs >= 2 numeric columns, got $numeric")

    // single mergeable pass: n, means, and the d(d+1)/2 population
    // covariances via covar_pop — Spark's pairwise-stable update formula.
    // (A raw E[xy] − μxμy reconstruction cancels catastrophically when
    // |mean| ≫ std, e.g. key- or timestamp-like columns: correlations
    // come out wrong and variances clamp to 0 silently.)
    val d = numeric.size
    val aggs =
      Seq(count(lit(1)).cast("double").as("__n")) ++
        numeric.map(c => avg(col(c).cast("double")).as(s"__m_$c")) ++
        (for (i <- 0 until d; j <- i until d) yield
          covar_pop(col(numeric(i)).cast("double"), col(numeric(j)).cast("double"))
            .as(s"__c_${i}_$j"))
    val row = df.na.drop(numeric).agg(aggs.head, aggs.tail: _*).head()
    val n = row.getDouble(0)
    require(n > 1, "PCA needs > 1 complete row")
    val means = Array.tabulate(d)(i => row.getDouble(1 + i))
    val raw = Array.ofDim[Double](d, d)
    var idx = 1 + d
    for (i <- 0 until d; j <- i until d) {
      val cov = row.getDouble(idx)
      raw(i)(j) = cov; raw(j)(i) = cov
      idx += 1
    }
    val stds = Array.tabulate(d)(i => math.sqrt(math.max(0.0, raw(i)(i))))
    val keep = (0 until d).filter(stds(_) > 0.0)
    require(keep.size >= 2, "PCA needs >= 2 non-constant numeric columns")
    val dk = keep.size
    val corr = Array.tabulate(dk, dk)((i, j) =>
      raw(keep(i))(keep(j)) / (stds(keep(i)) * stds(keep(j))))

    val (eigVals, eigVecs) = jacobiEigen(corr)
    val order = eigVals.indices.sortBy(i => -eigVals(i))
    val total = eigVals.map(math.max(_, 0.0)).sum
    val kk =
      if (k > 0) math.min(k, dk - 1)
      else {
        var acc = 0.0; var m = 0
        while (m < dk - 1 && acc < varianceThreshold * total) {
          acc += math.max(eigVals(order(m)), 0.0); m += 1
        }
        math.max(1, m)
      }
    val components = Array.tabulate(kk)(p =>
      Array.tabulate(dk)(i => eigVecs(i)(order(p))))
    val tail = order.drop(kk).map(i => math.max(eigVals(i), 0.0)).sum

    State(keep.map(numeric), means = keep.map(i => means(i)).toArray,
      stds = keep.map(i => stds(i)).toArray,
      components = components, tailVariance = tail,
      eigenvalues = Array.tabulate(kk)(p => math.max(eigVals(order(p)), 0.0)))
  }

  /** Squared Mahalanobis distance of the z-scored row divided by the
    * model dimension (expected value 1 for conforming rows):
    * Σ_p proj_p²/λ_p over the kept components plus the residual energy
    * over the discarded mass — the MCD-style zoo member
    * (DQTestToolHelper.py:107 lists PyOD MCD; this is its moment-based
    * analog). Uses the same (r−3)/6 clamp. */
  def mahalanobisRatio(st: State, eps: Double = 1e-9): Column = {
    val (norm2, projs) = zProjections(st)
    val projTerms = projs.zipWithIndex.map { case (proj, p) =>
      (proj * proj, lit(st.eigenvalues(p) + eps))
    }
    val kept = projTerms.map { case (p2, l) => p2 / l }.reduce(_ + _)
    val keptEnergy = projTerms.map(_._1).reduce(_ + _)
    // residual directions contribute their energy / mean tail eigenvalue
    val dTail = st.cols.size - st.components.length
    val tailTerm =
      if (dTail <= 0) lit(0.0)
      else (norm2 - keptEnergy) / lit(st.tailVariance / dTail + eps)
    (kept + tailTerm) / lit(st.cols.size.toDouble)
  }

  def mahalanobisScore(st: State): Column =
    least(lit(1.0), greatest(lit(0.0), (mahalanobisRatio(st) - lit(3.0)) / lit(6.0)))

  /** Squared reconstruction residual of the z-scored row, normalized by
    * the discarded eigenvalue mass (expected residual energy ≈ 1 for
    * model-conforming rows). Null features contribute 0 (treated as the
    * column mean — neutral, the univariate scorer already penalizes
    * numeric nulls). */
  def residualRatio(st: State, eps: Double = 1e-9): Column = {
    val (norm2, projs) = zProjections(st)
    val proj2 = projs.map(p => p * p).reduce(_ + _)
    (norm2 - proj2) / lit(st.tailVariance + eps)
  }

  /** The z-scored row's squared norm and its projection onto each kept
    * component. A null feature z-scores to 0. */
  private def zProjections(st: State): (Column, Seq[Column]) = {
    val z: Seq[Column] = st.cols.indices.map { i =>
      coalesce((col(st.cols(i)).cast("double") - lit(st.means(i))) / lit(st.stds(i)),
        lit(0.0))
    }
    (z.map(c => c * c).reduce(_ + _),
      st.components.toSeq.map(v => z.indices.map(i => z(i) * lit(v(i))).reduce(_ + _)))
  }

  /** Invalidity score column in [0,1] — same clamp shape as the
    * univariate z-score path ((r − 3) / 6). */
  def scoreColumn(st: State): Column =
    least(lit(1.0), greatest(lit(0.0), (residualRatio(st) - lit(3.0)) / lit(6.0)))
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.models.PcaResidual

/** Multivariate constraint model (M2 zoo member): PCA reconstruction
  * error catches jointly-anomalous rows whose marginals are normal —
  * the semantic class the reference gets from its autoencoder/PyOD zoo
  * (/root/reference/backendClasses/DQTestToolHelper.py:104-125). */
class PcaSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("jacobi eigendecomposition of a known symmetric matrix") {
    val (vals, vecs) = PcaResidual.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(vals.sorted.zip(Array(1.0, 3.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-9 })
    val i3 = vals.indexWhere(v => math.abs(v - 3.0) < 1e-9)
    val v3 = Array(vecs(0)(i3), vecs(1)(i3))
    // eigenvector for λ=3 is (1,1)/√2 up to sign
    assert(math.abs(v3(0) - v3(1)) < 1e-9)
    assert(math.abs(v3(0) * v3(0) + v3(1) * v3(1) - 1.0) < 1e-9)
  }

  test("seeded correlated anomaly: per-column z-scores miss, PCA catches") {
    // y tracks x exactly (plus deterministic tiny jitter); the anomaly has
    // NORMAL marginals (x z≈-1.4, y z≈+1.4) but breaks the correlation.
    val n = 2000
    val rows = (0 until n).map { i =>
      val x = (i % 100).toDouble
      (f"r$i%04d", x, x + (i % 7) * 0.01)
    } :+ (("anomaly", 10.0, 90.0))
    val df = rows.toDF("id", "x", "y")

    val gen = graft.generic.GenericQuality.fit(df, "id")
    val gScore = graft.generic.GenericQuality.withScores(df, gen)
      .filter(col("id") === "anomaly")
      .select("invalidity_score").head().getDouble(0)
    assert(gScore < 0.5, s"univariate scorer should miss it, got $gScore")

    val st = PcaResidual.fit(df, "id")
    val scored = df.select(col("id"), PcaResidual.scoreColumn(st).as("s")).cache()
    val aScore = scored.filter(col("id") === "anomaly")
      .select("s").head().getDouble(0)
    assert(aScore >= 0.9, s"PCA should catch it, got $aScore")
    val maxNormal = scored.filter(col("id") =!= "anomaly")
      .agg(max("s")).head().getDouble(0)
    assert(maxNormal <= 0.1, s"normal rows should score ~0, max=$maxNormal")
    scored.unpersist()
  }

  test("GenericQuality multivariate=true adds the PCA column to the max-combine") {
    val rows = (0 until 500).map { i =>
      val x = (i % 50).toDouble
      (f"r$i%04d", x, x + (i % 3) * 0.01)
    } :+ (("anomaly", 5.0, 45.0))
    val df = rows.toDF("id", "x", "y")
    val m = graft.generic.GenericQuality.fit(df, "id", multivariate = true)
    assert(m.pca.isDefined)
    val scored = graft.generic.GenericQuality.withScores(df, m)
    assert(scored.columns.contains("score__pca"))
    val a = scored.filter(col("id") === "anomaly")
      .select("invalidity_score").head().getDouble(0)
    assert(a >= 0.9, s"joint anomaly must drive the combined score, got $a")
  }

  test("mahalanobis variant catches the joint anomaly too") {
    val rows = (0 until 2000).map { i =>
      val x = (i % 100).toDouble
      (f"r$i%04d", x, x + (i % 7) * 0.01)
    } :+ (("anomaly", 10.0, 90.0))
    val df = rows.toDF("id", "x", "y")
    val st = PcaResidual.fit(df, "id")
    val s = df.select(col("id"), PcaResidual.mahalanobisScore(st).as("s"))
      .filter(col("id") === "anomaly").select("s").head().getDouble(0)
    assert(s >= 0.9, s"mahalanobis should catch it, got $s")
  }
}

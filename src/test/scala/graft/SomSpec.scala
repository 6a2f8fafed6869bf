package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Exprs
import org.scalatest.funsuite.AnyFunSuite
import graft.explain.SomClustering

class SomSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  private def argminUnit(w: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var u = 0
    while (u < w.length) {
      var d = 0.0
      var i = 0
      while (i < x.length) { val t = w(u)(i) - x(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = u }
      u += 1
    }
    best
  }

  /** The typedlit-codebook higher-order-function chain: the parity
    * reference for the native Exprs.somBmu column. */
  private def bmuColumnHof(weights: Array[Array[Double]],
      features: org.apache.spark.sql.Column) = {
    val codebook = typedlit(weights.map(_.toSeq).toSeq)
    val dists = transform(codebook, wv =>
      aggregate(zip_with(wv, features, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  test("native SomBmu expression is bit-identical to the HOF chain") {
    // the native Exprs.somBmu column against the typedlit-codebook
    // zip_with/aggregate chain — BMU assignment must be identical on random data, exact-tie rows
    // (equal distances pick the FIRST unit), null arrays, null
    // elements, and dim-mismatched arrays.
    val w = SomClustering.initWeights(4, 4, 3, seed = 7L)
    // two identical codebook rows force exact distance ties
    w(5) = w(2).clone()
    val rnd = new java.util.Random(11L)
    val rows = (1 to 500).map { _ =>
      Tuple1(Array.fill(3)(rnd.nextGaussian()))
    } ++ Seq(
      Tuple1(w(2).clone()), // exact tie between units 2 and 5
      Tuple1(null.asInstanceOf[Array[Double]]),
      Tuple1(Array(1.0, 2.0)), // dim mismatch
      Tuple1(Array(1.0, 2.0, 3.0, 4.0))) // dim mismatch (long)
    val df = rows.toDF("arr")
      .select(col("arr").cast("array<double>").as("arr"))
    val cmp = df.select(
      Exprs.somBmu(col("arr"), w).as("nat"),
      bmuColumnHof(w, col("arr")).as("hof"))
    assert(cmp.filter(not(col("nat") <=> col("hof"))).count() == 0L)
    // the tie row resolves to the FIRST minimal unit on both paths
    val tie = Seq(Tuple1(w(2).clone())).toDF("arr")
      .select(Exprs.somBmu(col("arr"), w).as("u")).head().getInt(0)
    assert(tie == 2)
  }

  test("fit is deterministic for a fixed seed") {
    val df = (1 to 60).map(i => (0.1 * (i % 7), 0.05 * (i % 4))).toDF("a", "b").cache()
    val m1 = SomClustering.fit(df, Seq("a", "b"), m = 3, n = 3, epochs = 5)
    val m2 = SomClustering.fit(df, Seq("a", "b"), m = 3, n = 3, epochs = 5)
    df.unpersist()
    assert(m1.weights.flatten.toSeq == m2.weights.flatten.toSeq)
  }

  test("fit is deterministic over multi-partition input (one task, partitions in order)") {
    // the fit coalesces its input to one task, which reads the
    // partitions in partition order, so the same input layout must give
    // a bit-identical codebook; hash-repartitioned input keeps the
    // layout itself deterministic
    val df = (1 to 300).map(i => (i, 0.1 * (i % 11), 0.05 * (i % 6)))
      .toDF("id", "a", "b").repartition(7, col("id")).cache()
    df.count()
    val m1 = SomClustering.fit(df, Seq("a", "b"), m = 3, n = 3, epochs = 6)
    val m2 = SomClustering.fit(df, Seq("a", "b"), m = 3, n = 3, epochs = 6)
    df.unpersist()
    assert(m1.weights.flatten.toSeq == m2.weights.flatten.toSeq)
  }

  test("assign rejects a feature list that does not match the codebook dim") {
    val df = Seq(("im1", 1.0, 2.0)).toDF("image_id", "a", "b")
    val model = SomClustering.SomModel(2, 2, 3,
      SomClustering.initWeights(2, 2, 3, 1L))
    intercept[IllegalArgumentException] {
      SomClustering.assign(df, "image_id", Seq("a", "b"), model)
    }
  }

  test("sigma→0 batch epoch is exactly one Lloyd (k-means) step") {
    // with σ tiny, exp(−d²/σ²) underflows to 0 for every off-BMU unit,
    // so the smoothed update degenerates to the per-BMU mean — Lloyd's
    // step from the deterministic init codebook
    val data = (1 to 40).map(i => (0.3 * (i % 5), 0.2 * (i % 3), 0.1 * (i % 2)))
    val df = data.toDF("a", "b", "c").cache()
    val model = SomClustering.fit(
      df, Seq("a", "b", "c"), m = 2, n = 2, epochs = 1, sigma0 = 1e-9, seed = 7L)
    df.unpersist()
    val init = SomClustering.initWeights(2, 2, 3, 7L)
    val groups = data.groupBy(r => argminUnit(init, Array(r._1, r._2, r._3)))
    (0 until 4).foreach { u =>
      groups.get(u) match {
        case Some(rows) =>
          val mean = Array(
            rows.map(_._1).sum / rows.size,
            rows.map(_._2).sum / rows.size,
            rows.map(_._3).sum / rows.size)
          (0 until 3).foreach { i =>
            assert(math.abs(model.weights(u)(i) - mean(i)) < 1e-12,
              s"unit $u dim $i: ${model.weights(u)(i)} vs Lloyd mean ${mean(i)}")
          }
        case None =>
          // empty unit keeps its init weights
          assert(model.weights(u).toSeq == init(u).toSeq, s"empty unit $u moved")
      }
    }
  }

  test("assign matches a driver-side argmin recompute (first-min tie rule)") {
    val df = (1 to 80).map(i => (f"im$i%03d", 1.0 * (i % 4), 0.5 * (i % 3)))
      .toDF("image_id", "a", "b").cache()
    val model = SomClustering.fit(df, Seq("a", "b"), m = 3, n = 3, epochs = 8)
    val got = SomClustering.assign(df, "image_id", Seq("a", "b"), model)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val rows = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    df.unpersist()
    rows.foreach { case (id, a, b) =>
      val u = argminUnit(model.weights, Array(a, b))
      assert(got(id) == ((u, u / model.n, u % model.n)), s"row $id")
    }
  }

  test("training reduces quantization error vs the random init") {
    val df = (1 to 200).map { i =>
      val g = i % 4
      (1.0 * (g / 2) + 0.01 * (i % 5), 1.0 * (g % 2) + 0.01 * (i % 7))
    }.toDF("a", "b").cache()
    def qe(w: Array[Array[Double]]): Double = {
      val rows = df.collect().map(r => Array(r.getDouble(0), r.getDouble(1)))
      rows.map { x =>
        val u = argminUnit(w, x)
        val d0 = w(u)(0) - x(0); val d1 = w(u)(1) - x(1)
        d0 * d0 + d1 * d1
      }.sum / rows.length
    }
    val init = SomClustering.initWeights(4, 4, 2, 42L)
    val model = SomClustering.fit(df, Seq("a", "b"), m = 4, n = 4, epochs = 20)
    df.unpersist()
    assert(qe(model.weights) < 0.25 * qe(init),
      s"QE ${qe(model.weights)} not well below init ${qe(init)}")
  }

  test("separated fault families land on separated grid cells") {
    // two tight blobs far apart: the SOM must give each family its own
    // cell(s), and the two families must not share any cell
    val rows = (1 to 50).map(i => (f"a$i%03d", 1.0 + 0.001 * (i % 5), 0.0)) ++
      (1 to 50).map(i => (f"b$i%03d", 0.0, 1.0 + 0.001 * (i % 5)))
    val df = rows.toDF("image_id", "score_len", "score_symbol").cache()
    val out = SomClustering.clusterFaulty(
      df, Seq("score_len", "score_symbol"), m = 5, n = 5, epochs = 20)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    df.unpersist()
    val aCells = out.filter(_._1.startsWith("a")).values.toSet
    val bCells = out.filter(_._1.startsWith("b")).values.toSet
    assert(aCells.intersect(bCells).isEmpty, s"families share cells: $aCells ∩ $bCells")
    assert(out.values.toSet.size <= 25, "more clusters than grid cells")
  }

  test("clusterFaulty at 50k rows: bounded fit, full parallel assignment") {
    val big = spark.range(0, 50000).select(
      concat(lit("im"), col("id")).as("image_id"),
      pmod(col("id"), lit(2)).cast("double").as("score_a"),
      (lit(1.0) - pmod(col("id"), lit(2)).cast("double")).as("score_b"))
    val t0 = System.nanoTime()
    val out = SomClustering.clusterFaulty(
      big, Seq("score_a", "score_b"), epochs = 10, maxFit = 2000)
    assert(out.count() == 50000L, "every faulty row must get a cluster id")
    assert(out.select("cluster_id").distinct().count() == 2L,
      "two pure score signatures must occupy exactly two cells")
    val sec = (System.nanoTime() - t0) / 1e9
    assert(sec < 120.0, s"50k SOM clustering took ${sec}s — fit not bounded?")
  }
}

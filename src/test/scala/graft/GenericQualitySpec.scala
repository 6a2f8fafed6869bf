package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Scratch
import graft.generic.GenericQuality
import graft.synth.ImageGen

/** Generic tabular mode — the reference's CSV contract (README.md:112-124,
  * breastCancer.csv + breastCancer_outliers.csv analog) on a deterministic
  * synthetic records table with seeded outliers. */
class GenericQualitySpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  /** records(id, x1 numeric, x2 numeric, cat string w/ nulls); ~4%
    * seeded outliers: numeric spike OR rare category. */
  def fixture(n: Int = 2000): (org.apache.spark.sql.DataFrame, Set[String]) = {
    val rows = (0 until n).map { i =>
      val r1 = new ImageGen.Rng(7L, i.toLong, 51L)
      val isOutlier = java.lang.Math.floorMod(ImageGen.splitmix64(7L ^ i.toLong), 100L) < 4
      val id = f"rec$i%06d"
      if (!isOutlier) {
        val x1 = 50.0 + (r1.nextDouble() - 0.5) * 10 // ~[45, 55]
        val x2 = -3.0 + (r1.nextDouble() - 0.5) * 2
        val cat = Seq("red", "green", "blue", "yellow")(r1.nextInt(4))
        val catOrNull = if (r1.nextInt(10) == 0) null else cat
        (id, x1, x2, catOrNull, false)
      } else if (i % 2 == 0) {
        (id, 500.0 + r1.nextDouble() * 100, -3.0, "red", true) // numeric spike
      } else {
        (id, 50.0, -3.0, s"weird_${r1.nextInt(3)}", true) // rare category
      }
    }
    val df = rows.map(t => (t._1, t._2, t._3, t._4)).toDF("id", "x1", "x2", "cat")
    (df, rows.filter(_._5).map(_._1).toSet)
  }

  /** An empty loop outDir. */
  def loopDir(name: String): String = {
    val dir = s"target/graft-generic-loop-$name"
    Scratch.deleteRecursively(new java.io.File(dir))
    dir
  }

  test("fit: numeric mean/std + categorical frequencies incl NULL level") {
    val (df, _) = fixture(500)
    val model = GenericQuality.fit(df, "id")
    val x1 = model.cols("x1").asInstanceOf[GenericQuality.NumericStats]
    assert(x1.mean > 40 && x1.std > 0)
    val cat = model.cols("cat").asInstanceOf[GenericQuality.CategoricalStats]
    assert(cat.freq.contains("NULL"), "null must be a distinct level")
    assert(cat.freq.keySet.intersect(Set("red", "green", "blue", "yellow")).size == 4)
  }

  test("scoring separates seeded outliers from clean records") {
    val (df, outliers) = fixture(2000)
    val model = GenericQuality.fit(df, "id")
    val scored = GenericQuality.withScores(df, model)
      .select("id", "invalidity_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val outScores = outliers.toSeq.map(scored)
    val cleanScores = (scored.keySet -- outliers).toSeq.map(scored)
    assert(outScores.min > 0.5, s"outlier min=${outScores.min}")
    // clean rows: almost all low; NULL level is ~10% frequent -> mid score
    assert(cleanScores.count(_ > 0.9).toDouble / cleanScores.size < 0.01)
  }

  test("oracle loop: detects seeded outliers at F1 >= 0.99, metrics parity shapes") {
    val (df, outliers) = fixture(2000)
    val knownDf = outliers.toSeq.toDF("id")
    val res = GenericQuality.run(df, "id", knownDf, loopDir("f1"), rounds = 3)
    assert(res.metrics.size == 3)
    val dec = res.decisions.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val tp = outliers.count(o => dec(o) == "drop")
    val fp = dec.count { case (id, d) => d == "drop" && !outliers.contains(id) }
    val fn = outliers.size - tp
    val f1 = graft.eval.Metrics.f1(tp, fp, fn)
    assert(f1 >= 0.99, s"F1=$f1 tp=$tp fp=$fp fn=$fn")
    // every round's TPR should stay in [0,1]; PD should reach 1 (all
    // known faults are detected in this separable fixture)
    res.metrics.foreach { m =>
      assert(m.truePositiveRate >= 0 && m.truePositiveRate <= 1)
    }
    assert(res.metrics.last.previouslyDetected >= 0.99)
    assert(res.metrics.last.undetected <= 0.01)
  }

  test("10-round harness parity: metrics row per round, TPGR >= 0 (testScript.py)") {
    val (df, outliers) = fixture(500)
    val res = GenericQuality.run(df, "id", outliers.toSeq.toDF("id"), loopDir("10"),
      rounds = 10)
    assert(res.metrics.size == 10)
    val tprs = res.metrics.map(_.truePositiveRate)
    assert(graft.eval.Metrics.truePositiveGrowthRate(tprs) >= -1e-9, tprs.toString)
    // confirmed faults stay frozen: PD non-decreasing across rounds
    val pds = res.metrics.map(_.previouslyDetected)
    assert(pds.zip(pds.tail).forall { case (a, b) => b >= a - 1e-9 }, pds.toString)
  }

  test("oracle loop reports each round's TPGR over its own TPR history") {
    // known faults: 10 huge x values and 10 moderate ones the huge ones
    // mask until they are confirmed and left out of the refit; 6 unknown
    // rare-category rows are suspicious in every round, so the TPR
    // history changes between rounds
    val rows = (0 until 1000).map { i =>
      val x = if (i < 10) 1e6 else if (i < 20) 30.0 else (i % 10).toDouble
      val cat = if (i >= 20 && i < 26) s"u$i" else Seq("a", "b", "c", "d")(i % 4)
      (f"r$i%04d", x, cat)
    }
    val df = rows.toDF("id", "x", "cat")
    val known = (0 until 20).map(i => f"r$i%04d").toDF("id")
    val res = GenericQuality.run(df, "id", known, loopDir("tpgr"), rounds = 3)
    val tprs = res.metrics.map(_.truePositiveRate)
    assert(tprs.distinct.size > 1, s"TPR history is constant: $tprs")
    res.metrics.zipWithIndex.foreach { case (m, i) =>
      assert(m.tpgr ==
        graft.eval.Metrics.truePositiveGrowthRate(tprs.take(i + 1)),
        s"round ${i + 1}: tpgr ${m.tpgr}, TPRs $tprs")
    }
  }

  test("a feature column named is_known is scored like any other") {
    val rows = (0 until 400).map(i => (f"r$i%04d", if (i < 8) 1e6 else (i % 10).toDouble))
    val known = (0 until 8).map(i => f"r$i%04d").toDF("id")
    def decisions(feature: String) = GenericQuality.run(rows.toDF("id", feature), "id",
      known, loopDir(feature), rounds = 1).decisions.orderBy("id").collect().toSeq
    assert(decisions("is_known") == decisions("x"))
  }

  test("a loop killed between rounds resumes to the uninterrupted run's results") {
    val (df, outliers) = fixture(500)
    val known = outliers.toSeq.toDF("id")
    def run(dir: String) = GenericQuality.run(df, "id", known, dir, rounds = 4)
    def rows(res: graft.loop.OracleLoop.Result, dir: String) = (res.metrics, res.thresholds,
      res.decisions.orderBy("id").collect().toSeq,
      spark.read.parquet(s"$dir/audit").orderBy("round", "id").collect().toSeq)
    val whole = loopDir("whole")
    val expected = rows(run(whole), whole)
    val killed = loopDir("killed")
    run(killed)
    // killed after round 3's audit write: round 3 re-runs, then round 4
    Seq("audit/round=4", "lineage/round=4", "lineage/round=3").foreach(p =>
      Scratch.deleteRecursively(new java.io.File(s"$killed/$p")))
    assert(rows(run(killed), killed) == expected)
    // and the outDir refuses a run over another table
    val err = intercept[IllegalArgumentException](
      GenericQuality.run(df.limit(499), "id", known, killed, rounds = 4))
    assert(err.getMessage.contains(killed))
  }

  test("single-feature table scores without greatest() arity failure") {
    // the generic contract allows id + ONE feature column; greatest()
    // needs >= 2 args, so the max-combine must degenerate gracefully
    val df = spark.range(0, 100).selectExpr("CAST(id AS STRING) AS rid",
      "CASE WHEN id = 7 THEN 1000.0 ELSE CAST(id % 10 AS DOUBLE) END AS x")
    val model = GenericQuality.fit(df, "rid")
    val scored = GenericQuality.withScores(df, model)
    val top = scored.orderBy(org.apache.spark.sql.functions.col(
      "invalidity_score").desc).select("rid").head().getString(0)
    assert(top == "7", s"outlier not ranked first: $top")
    // degenerate id-only table: constant zero score, no crash
    val idOnly = df.select("rid")
    val m2 = GenericQuality.fit(idOnly, "rid")
    val s2 = GenericQuality.withScores(idOnly, m2)
    assert(s2.agg(org.apache.spark.sql.functions.max("invalidity_score"))
      .head().getDouble(0) == 0.0)
  }

  test("recalibrate falls back when the believed-clean population is empty") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("pred_lang", "ppl_raw")
    val fb = (Map("en" -> 2.0), 3.0)
    assert(graft.detect.Scorer.recalibrate(empty, fb) == fb)
  }

  test("recalibrate: the global reference is the weighted median of the per-language p50s") {
    import spark.implicits._
    // (lang, p50, rows): each group's rows share one perplexity, so its
    // p50 is exact and its weight is its row count
    def global(groups: (String, Double, Int)*): Double = {
      val raw = groups.flatMap { case (l, p, w) => Seq.fill(w)((l, p)) }
        .toDF("pred_lang", "ppl_raw")
      graft.detect.Scorer.recalibrate(raw, (Map.empty, -1.0))._2
    }
    assert(global(("a", 1.0, 1), ("b", 2.0, 1), ("c", 3.0, 1)) == 2.0)
    assert(global(("a", 1.0, 1), ("b", 2.0, 2)) == 2.0)
    assert(global(("a", 1.0, 5), ("b", 2.0, 1), ("c", 3.0, 1)) == 1.0)
    assert(global(("a", 1.0, 1), ("b", 2.0, 1), ("c", 3.0, 5)) == 3.0)
    assert(global(("a", 1.0, 2), ("b", 2.0, 2)) == 1.0)
    assert(global(("a", 3.0, 1), ("b", 1.0, 1), ("c", 4.0, 1), ("d", 2.0, 1)) == 2.0)
  }

  test("fromCsv: first column is the id, schema inferred") {
    val (df, _) = fixture(100)
    val path = "target/graft-generic-csv"
    Scratch.deleteRecursively(new java.io.File(path))
    df.coalesce(1).write.option("header", "true").csv(path)
    val (loaded, idCol) = GenericQuality.fromCsv(spark, path)
    assert(idCol == "id")
    assert(loaded.count() == 100)
    assert(loaded.schema("x1").dataType.isInstanceOf[org.apache.spark.sql.types.DoubleType])
  }
}

package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.eval.{Metrics, OracleRound}

/** The oracle round shared by both validation loops: the confirm
  * transition (testScript.py:38-40), the six counts and the metrics row
  * (Evaluation.py:6-30, DQTestToolHelper.py:211-238). */
class OracleRoundSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("confirm transition: {clean, valid, actualFaults_k} x suspicious x known") {
    val r = 3
    val t = 0.5
    // (status, suspicious, known) -> expected status_new
    val table = Seq(
      ("clean", true, true) -> "actualFaults_3",
      ("clean", true, false) -> "valid",
      ("clean", false, true) -> "clean",
      ("clean", false, false) -> "clean",
      ("valid", true, true) -> "actualFaults_3",
      ("valid", true, false) -> "valid",
      ("valid", false, true) -> "valid",
      ("valid", false, false) -> "valid",
      ("actualFaults_2", true, true) -> "actualFaults_2",
      ("actualFaults_2", true, false) -> "actualFaults_2",
      ("actualFaults_2", false, true) -> "actualFaults_2",
      ("actualFaults_2", false, false) -> "actualFaults_2")
    val rows = table.zipWithIndex.map { case (((status, susp, known), want), i) =>
      (f"id$i%02d", status, if (susp) 0.9 else 0.1, known, want)
    }
    val scored = rows.map(x => (x._1, x._2, x._3)).toDF("id", "status", "invalidity_score")
    val knownIds = rows.filter(_._4).map(_._1).toDF("id")
    val flagged = OracleRound.flag(OracleRound.withKnown(scored, knownIds, "id"), t, r)
    assert(flagged.columns.toSeq == Seq("id", "status", "invalidity_score", "is_known",
      "is_susp", "status_new"))
    val got = flagged.select("id", "is_susp", "is_known", "status_new").collect()
      .map(x => x.getString(0) -> ((x.getBoolean(1), x.getBoolean(2), x.getString(3)))).toMap
    rows.foreach { case (id, status, score, known, want) =>
      assert(got(id) == ((score >= t, known, want)), s"$status susp=${score >= t} known=$known")
    }

    // the six counts ride an Observation on the caller's action
    val obs = Observation("oracle_round_spec")
    flagged.observe(obs, OracleRound.countColumns.head, OracleRound.countColumns.tail: _*)
      .collect(): Unit
    assert(OracleRound.counts(OracleRound.observed(obs)) == OracleRound.Counts(
      faulty = 6, eInterA = 3, afNew = 6, afOld = 4, afOldMinusNew = 0, afMinusE = 2))
  }

  test("status predicates partition the vocabulary") {
    val statuses = Seq(OracleRound.Clean, OracleRound.Valid, OracleRound.confirmedStatus(1),
      OracleRound.confirmedStatus(12))
    val got = statuses.toDF("status").select(
      OracleRound.confirmed(col("status")), OracleRound.believedClean(col("status")),
      OracleRound.labelOffset(col("status"))).collect()
      .map(x => (x.getBoolean(0), x.getBoolean(1), x.getDouble(2))).toSeq
    assert(got == Seq((false, true, 0.0), (false, true, 0.0), (true, false, 1.0),
      (true, false, 1.0)))
  }

  test("metrics rows from counts over a changing TPR history") {
    val knownCount = 8L
    val rounds = Seq(
      OracleRound.Counts(faulty = 10, eInterA = 6, afNew = 6, afOld = 0, afOldMinusNew = 0,
        afMinusE = 0),
      OracleRound.Counts(faulty = 8, eInterA = 7, afNew = 7, afOld = 6, afOldMinusNew = 0,
        afMinusE = 1),
      OracleRound.Counts(faulty = 12, eInterA = 7, afNew = 9, afOld = 7, afOldMinusNew = 1,
        afMinusE = 2))
    val hist = rounds.zipWithIndex.foldLeft(Seq.empty[Metrics.RunMetrics]) {
      case (prior, (c, i)) =>
        prior :+ OracleRound.metrics(i + 1, c, knownCount, prior.map(_.truePositiveRate))
    }
    val tprs = hist.map(_.truePositiveRate)
    assert(tprs == Seq(0.6, 7.0 / 8, 9.0 / 12))
    hist.zip(rounds).zipWithIndex.foreach { case ((m, c), i) =>
      val tpr = c.afNew.toDouble / c.faulty
      val fnr = if (c.afOld > 0) c.afOldMinusNew.toDouble / c.afOld else 0.0
      assert(m == Metrics.RunMetrics(
        run = i + 1,
        previouslyDetected = c.eInterA.toDouble / knownCount,
        suspiciousDetected = (c.faulty - c.eInterA).toDouble / c.faulty,
        undetected = (knownCount - c.eInterA).toDouble / knownCount,
        newlyDetected = c.afMinusE.toDouble / c.faulty,
        truePositiveRate = tpr,
        falsePositiveRate = 1.0 - tpr,
        trueNegativeRate = 1.0 - fnr,
        falseNegativeRate = fnr,
        tpgr = Metrics.truePositiveGrowthRate(tprs.take(i + 1))))
    }
    assert(hist.map(_.tpgr).distinct.size == 3, hist.map(_.tpgr).toString)
  }

  test("counts aggregated from the loop's audit rows equal its Observation's counts") {
    val fresh = PipelineLoop.cachedLoop(spark)
    val knownCount = graft.synth.ImageGen.knownFaults(spark,
      graft.synth.GenConfig(1000L, parts = graft.synth.GenConfig.adaptiveParts(1000L))).count()
    // a generic table: 20 known faults, 6 unknown rare-category rows
    val genericDir = "target/graft-oracle-round-generic"
    graft.engine.Scratch.deleteRecursively(new java.io.File(genericDir))
    val generic = graft.generic.GenericQuality.run(
      (0 until 600).map(i => (f"r$i%04d", if (i < 20) 1e6 else (i % 10).toDouble,
        if (i >= 20 && i < 26) s"u$i" else Seq("a", "b", "c")(i % 3))).toDF("id", "x", "cat"),
      "id", (0 until 20).map(i => f"r$i%04d").toDF("id"), genericDir, rounds = 3)
    Seq(
      (PipelineLoop.loopDir, fresh.thresholds, fresh.metrics, knownCount),
      (genericDir, generic.thresholds, generic.metrics, 20L)
    ).foreach { case (dir, thresholds, metrics, knownCount) =>
      val rounds = graft.loop.OracleLoop.checkpointedRounds(spark, dir, upTo = 3)
      assert(rounds.map(_._1) == thresholds, dir)
      // the loop's Observation rides the audit write, so an Observation on
      // the audit rows sees the rows it saw
      rounds.zipWithIndex.foreach { case ((_, c), i) =>
        val obs = Observation(s"audit_round_${i + 1}")
        graft.engine.TableIO.read(spark, s"$dir/audit/round=${i + 1}")
          .withColumnRenamed("status_old", "status")
          .observe(obs, OracleRound.countColumns.head, OracleRound.countColumns.tail: _*)
          .collect(): Unit
        assert(c == OracleRound.counts(OracleRound.observed(obs)), s"$dir round ${i + 1}")
      }
      // and the metrics rows built from the aggregated counts are the ones
      // the loop built from its Observations, bit for bit
      val hist = rounds.zipWithIndex.foldLeft(Seq.empty[Metrics.RunMetrics]) {
        case (prior, ((_, c), i)) =>
          prior :+ OracleRound.metrics(i + 1, c, knownCount, prior.map(_.truePositiveRate))
      }
      assert(hist == metrics, dir)
    }
  }
}

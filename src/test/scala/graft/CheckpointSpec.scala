package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.detect.Scorer
import graft.engine.{Scratch, TableIO}
import graft.loop.ValidationRun
import graft.models.{LangIdModel, ModelCheckpoint, NGramLMModel}

class CheckpointSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  test("model state round-trips through the checkpoint and scores identically") {
    val dir = "target/graft-model-ckpt"
    Scratch.deleteRecursively(new java.io.File(dir))
    val images = PipelineCache.images(spark, 500L)
    val m1 = Scorer.fitOrLoad(spark, images, Some(dir)) // fits + saves
    val m2 = Scorer.fitOrLoad(spark, images, Some(dir)) // loads
    assert(m2.pplRef == m1.pplRef && m2.pplRefByLang == m1.pplRefByLang)
    val dup = PipelineCache.images(spark, 500L).select("image_id").limit(0)
    val s1 = Scorer.withScores(images, m1, dup)
      .select("image_id", "invalidity_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val s2 = Scorer.withScores(images, m2, dup)
      .select("image_id", "invalidity_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s1 == s2)
  }

  test("fingerprint or version mismatch forces a refit (no stale model reuse)") {
    val dir = "target/graft-model-ckpt-fp"
    Scratch.deleteRecursively(new java.io.File(dir))
    val images = PipelineCache.images(spark, 500L)
    val m = PipelineCache.models(spark, 500L)
    ModelCheckpoint.save(spark, m, dir, fingerprint = "n=500;seed=42")
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "n=500;seed=42").isDefined)
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "n=500;seed=43").isEmpty,
      "changed config must invalidate the checkpoint")
    assert(images.count() == 500L)
  }

  test("corrupt checkpoint bytes degrade to None, not an exception") {
    import spark.implicits._
    val dir = "target/graft-model-ckpt-bad"
    Scratch.deleteRecursively(new java.io.File(dir))
    graft.engine.TableIO.createOrReplace(
      Seq((ModelCheckpoint.FormatVersion, "fp", Array[Byte](1, 2, 3)))
        .toDF("version", "fingerprint", "state"),
      dir)
    assert(ModelCheckpoint.load(spark, dir, fingerprint = "fp").isEmpty)
  }

  test("a loaded LM rebuilds its lookup tables and scores bit for bit; the serialized form has no tables") {
    val dir = "target/graft-model-ckpt-tables"
    Scratch.deleteRecursively(new java.io.File(dir))
    val m = PipelineCache.models(spark, 500L)
    val caps = PipelineCache.images(spark, 500L).select("caption").collect().map(_.getString(0))
    val before = caps.map(m.lm.value.perplexity) // builds the tables in this JVM
    ModelCheckpoint.save(spark, m, dir)
    assert(ModelCheckpoint.FormatVersion == 2)
    val loaded = ModelCheckpoint.load(spark, dir).get
    val bits = (xs: Array[Double]) => xs.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(bits(caps.map(loaded.lm.value.perplexity)) == bits(before))
    assert(caps.map(loaded.langId.value.predict).toSeq == caps.map(m.langId.value.predict).toSeq)
    // a fresh copy and one whose tables are built serialize to the same bytes
    def bytes(o: AnyRef): Seq[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(b)
      out.writeObject(o); out.close()
      b.toByteArray.toSeq
    }
    val lm = m.lm.value
    val fresh = NGramLMModel.fromPairs(lm.keys.zip(lm.vals), lm.total)
    assert(bytes(fresh) == bytes(lm))
  }

  test("a checkpoint written before the lookup tables existed still loads and scores") {
    // ModelCheckpoint state (langid + LM + references) serialized by the
    // class layout without the lookup tables: a 2-language, dim-4 langid
    // and the LM of counts uni a=3 b=2, bi ab=2 ba=1, tri aba=1 bab=1
    val state = java.util.Base64.getDecoder.decode(
      "rO0ABXNyACJncmFmdC5tb2RlbHMuTW9kZWxDaGVja3BvaW50JFN0YXRlWDamlX5E" +
      "ueMCAAREAAZwcGxSZWZMAAZsYW5nSWR0ABpMZ3JhZnQvbW9kZWxzL0xhbmdJZE1v" +
      "ZGVsO0wAAmxtdAAbTGdyYWZ0L21vZGVscy9OR3JhbUxNTW9kZWw7TAAMcHBsUmVm" +
      "QnlMYW5ndAAgTHNjYWxhL2NvbGxlY3Rpb24vaW1tdXRhYmxlL01hcDt4cEAMAAAA" +
      "AAAAc3IAGGdyYWZ0Lm1vZGVscy5MYW5nSWRNb2RlbPa2QrZKsfktAgADSQADZGlt" +
      "WwAFbGFuZ3N0ABNbTGphdmEvbGFuZy9TdHJpbmc7WwAHd2VpZ2h0c3QAAltGeHAA" +
      "AAAEdXIAE1tMamF2YS5sYW5nLlN0cmluZzut0lbn6R17RwIAAHhwAAAAAnQAAmVu" +
      "dAADZ2lidXIAAltGC5yBiSLgDEICAAB4cAAAAAg/AAAAvwAAAD6AAAC/QAAAv8AA" +
      "AD+AAAA+AAAAAAAAAHNyABlncmFmdC5tb2RlbHMuTkdyYW1MTU1vZGVsZilmSC6o" +
      "jHsCAANKAAV0b3RhbFsABGtleXN0AAJbSlsABHZhbHNxAH4AEHhwAAAAAAAAAAV1" +
      "cgACW0p4IAS1ErF1kwIAAHhwAAAABgAAAAEAAABhAAAAAQAAAGIAAAACAAAw4gAA" +
      "AAIAADFhAAAAAwAYcWEAAAADABiw4nVxAH4AEgAAAAYAAAAAAAAAAwAAAAAAAAAC" +
      "AAAAAAAAAAIAAAAAAAAAAQAAAAAAAAABAAAAAAAAAAFzcgAjc2NhbGEuY29sbGVj" +
      "dGlvbi5pbW11dGFibGUuTWFwJE1hcDEAAAAAAAAAAwIAAkwABGtleTF0ABJMamF2" +
      "YS9sYW5nL09iamVjdDtMAAZ2YWx1ZTFxAH4AFnhwcQB+AAtzcgAQamF2YS5sYW5n" +
      "LkRvdWJsZYCzwkopa/sEAgABRAAFdmFsdWV4cgAQamF2YS5sYW5nLk51bWJlcoas" +
      "lR0LlOCLAgAAeHBAEQAAAAAAAA==")
    val dir = "target/graft-model-ckpt-compat"
    Scratch.deleteRecursively(new java.io.File(dir))
    import spark.implicits._
    graft.engine.TableIO.createOrReplace(
      Seq((ModelCheckpoint.FormatVersion, "fp", state)).toDF("version", "fingerprint", "state"),
      dir)
    val loaded = ModelCheckpoint.load(spark, dir, fingerprint = "fp")
    assert(loaded.isDefined)
    val m = loaded.get
    assert(m.pplRef == 3.5 && m.pplRefByLang == Map("en" -> 4.25))
    val lm = NGramLMModel(Map(
      NGramLMModel.uniKey('a') -> 3L, NGramLMModel.uniKey('b') -> 2L,
      NGramLMModel.biKey('a', 'b') -> 2L, NGramLMModel.biKey('b', 'a') -> 1L,
      NGramLMModel.triKey('a', 'b', 'a') -> 1L, NGramLMModel.triKey('b', 'a', 'b') -> 1L),
      total = 5L)
    val langId = LangIdModel(Array("en", "gib"), 4,
      Array(0.5f, -0.5f, 0.25f, -0.75f, -1.5f, 1.0f, 0.125f, 0.0f))
    val texts = Seq("abab", "ba ab", "abba", "xyz", "", "a")
    texts.foreach { t =>
      assert(java.lang.Double.doubleToRawLongBits(m.lm.value.perplexity(t)) ==
        java.lang.Double.doubleToRawLongBits(lm.perplexity(t)), t)
      assert(m.langId.value.predict(t) == langId.predict(t), t)
    }
    assert(m.lm.value.perplexity("abab") < m.lm.value.perplexity("xyz"))
  }

  // Loop checkpoint layout: each case below resumes a copy of the
  // session's cached 3-round loop outDir (PipelineLoop.cachedLoop, shared
  // with qf_metrics_loop) that a crash or an older writer left in a
  // different state.
  private def loopCfg(dir: String) = ValidationRun.RunConfig(n = 1000L, rounds = 3,
    outDir = dir, parts = graft.synth.GenConfig.adaptiveParts(1000L)) // cachedLoop's config
  private def fresh = PipelineLoop.cachedLoop(spark)
  private def decisionRows(res: ValidationRun.RunResult) =
    res.decisions.select("image_id", "decision", "invalidity_score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
  private def copyOfLoop(name: String): String = {
    fresh: Unit // runs the cached loop once per session
    val to = s"target/graft-ckpt-loop-$name"
    Scratch.deleteRecursively(new java.io.File(to))
    val src = java.nio.file.Paths.get(PipelineLoop.loopDir)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(to).resolve(src.relativize(p))): Unit
    } finally walk.close()
    to
  }

  test("a round whose audit table is written but whose lineage is missing re-runs") {
    val dir = copyOfLoop("crash")
    Scratch.deleteRecursively(new java.io.File(s"$dir/lineage/round=3"))
    assert(TableIO.exists(spark, s"$dir/audit/round=3"))
    val res = ValidationRun.run(spark, loopCfg(dir))
    assert(res.metrics == fresh.metrics)
    assert(res.thresholds == fresh.thresholds)
    assert(decisionRows(res) == decisionRows(fresh))
    assert(TableIO.exists(spark, s"$dir/lineage/round=3"))
  }

  test("an outDir whose audit tables lack the threshold re-runs every round") {
    import spark.implicits._
    val dir = copyOfLoop("parent")
    // the older layout: audit tables without `threshold`, next to the
    // metrics/ and thresholds/ tables it also wrote (values that would
    // show if they were read), and no recorded fingerprint
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "fingerprint"))
    (1 to 3).foreach { r =>
      val path = s"$dir/audit/round=$r"
      val df = TableIO.read(spark, path).drop("threshold")
      val local = spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      TableIO.createOrReplace(local, path)
      TableIO.createOrReplace(Seq(fresh.metrics(r - 1).copy(truePositiveRate = -1.0)).toDF(),
        s"$dir/metrics/round=$r")
      TableIO.createOrReplace(Seq((r, -1.0)).toDF("run", "threshold"), s"$dir/thresholds/round=$r")
    }
    val res = ValidationRun.run(spark, loopCfg(dir))
    assert(res.metrics == fresh.metrics)
    assert(res.thresholds == fresh.thresholds)
    assert(decisionRows(res) == decisionRows(fresh))
    assert(TableIO.read(spark, s"$dir/audit").select("run", "threshold").distinct()
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sorted.toSeq ==
      fresh.thresholds.zipWithIndex.map { case (t, i) => (i + 1) -> t })
  }

  test("a run over other input fails on the outDir and leaves it as it was") {
    val dir = copyOfLoop("other-seed")
    def files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.map(p => p.toString -> p.toFile.lastModified).toList.sorted
      finally walk.close()
    }
    val before = files
    val err = intercept[IllegalArgumentException](
      ValidationRun.run(spark, loopCfg(dir).copy(seed = 43L)))
    assert(err.getMessage.contains(dir))
    assert(files == before)
  }

  test("a complete resume reads its last audit checkpoint once") {
    val dir = copyOfLoop("complete")
    // a job reads an audit checkpoint when its call site runs through
    // OracleLoop.checkpointedStatuses (the parquet schema inference of
    // the read is one job)
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.details.contains("checkpointedStatuses")))
          reads.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val res =
      try ValidationRun.run(spark, loopCfg(dir))
      finally {
        org.apache.spark.sql.graft.ListenerProbe.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(reads.get == 1)
    assert(res.metrics == fresh.metrics)
    assert(res.thresholds == fresh.thresholds)
    assert(decisionRows(res) == decisionRows(fresh))
  }

  test("an outDir that still holds an old-layout statuses/ directory resumes unchanged") {
    val dir = copyOfLoop("statuses")
    (1 to 3).foreach { r =>
      TableIO.createOrReplace(
        TableIO.read(spark, s"$dir/audit/round=$r")
          .select(col("image_id"), col("status_new").as("status")),
        s"$dir/statuses/round=$r")
    }
    val res = ValidationRun.run(spark, loopCfg(dir))
    assert(res.metrics == fresh.metrics)
    assert(res.thresholds == fresh.thresholds)
    assert(decisionRows(res) == decisionRows(fresh))
  }
}

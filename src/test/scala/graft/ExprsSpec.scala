package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Exprs
import org.scalatest.funsuite.AnyFunSuite
import graft.models.{LangId, NGramLM}

/** Native column tier (`StaticInvoke`s of the `Exprs` scalar methods):
  * A/B parity vs direct model calls, null handling, codegen
  * participation, SQL registration. */
class ExprsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  lazy val langIdB = spark.sparkContext.broadcast(LangId.pretrained)
  lazy val lmB = {
    val corpus = LangId.trainingCorpus().map(_._2)
    spark.sparkContext.broadcast(NGramLM.fit(spark, spark.createDataset(corpus)))
  }

  val samples = Seq(
    "a photo of a dog running on the beach at sunset",
    "le chien qui court sur la plage",
    "sobaka begushchaya plyazh zakat",
    "xqzvk pwxjq brtnk zzvwq",
    "")

  test("expression values match direct model calls (A/B parity)") {
    val df = samples.toDF("caption")
    val rows = df.select(
      col("caption"),
      Exprs.langidAcceptedProb(col("caption"), langIdB).as("acc"),
      Exprs.langidBest(col("caption"), langIdB).as("lang"),
      Exprs.perplexity(col("caption"), lmB).as("ppl")).collect()
    rows.foreach { r =>
      val c = r.getString(0)
      assert(r.getDouble(1) == LangId.pretrained.predict(c).acceptedProb)
      assert(r.getString(2) == LangId.pretrained.predict(c).lang)
      assert(r.getDouble(3) == lmB.value.perplexity(c))
    }
  }

  test("null input yields null output (UnaryExpression null semantics)") {
    val df = Seq[(String, Int)]((null, 1)).toDF("caption", "x")
    val r = df.select(Exprs.langidAcceptedProb(col("caption"), langIdB)).head()
    assert(r.isNullAt(0))
  }

  test("expressions run inside whole-stage codegen") {
    val df = spark.range(100).selectExpr("cast(id as string) as caption")
      .select(Exprs.perplexity(col("caption"), lmB).as("p"))
      .filter(col("p") > 0)
    val plan = df.queryExecution.executedPlan.toString()
    // "*(n)" marks operators inside WholeStageCodegen stage n; the
    // Project/Filter containing our expression must carry it
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("perplexityScalar")), plan)
    assert(df.count() == 100)
  }

  /** Runs `f` with the interpreted fallback disabled, so a compile error
    * fails the query instead of silently running interpreted. */
  private def withoutFallback[T](f: => T): T = {
    val confs = Seq("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("somBmu compiles: two instances, non-nullable input, no fallback") {
    // a non-nullable array child and two somBmu columns in one generated
    // function
    val w = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(5.0, 5.0))
    withoutFallback {
      val arr = spark.range(0L, 8L, 1L, 2)
        .select(array(col("id").cast("double"), lit(0.5)).as("arr"))
      assert(!arr.schema("arr").nullable)
      val df = arr.select(Exprs.somBmu(col("arr"), w).as("a"),
        Exprs.somBmu(reverse(col("arr")), w).as("b"))
      val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      val exp = (0L until 8L).map { i =>
        val f = Array(i.toDouble, 0.5)
        (Exprs.somBmuArray(f, w), Exprs.somBmuArray(f.reverse, w))
      }
      assert(got == exp)
    }
  }

  test("every native column compiles and matches its scalar body with the fallback off") {
    import org.apache.spark.unsafe.types.UTF8String
    val planes = graft.ops.Similarity.hyperplanes(dim = 4, nPlanes = 10, seed = 7L)
    val centroids = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(-1.0, -1.0, 0.0, 0.0))
    val halfNorms = centroids.map(c => c.map(x => x * x).sum / 2.0)
    val byLang = Map("en" -> 4.25, "fr" -> 7.5)
    withoutFallback {
      // a range source (no ConvertToLocalRelation pre-evaluation); every
      // sixth text is NULL
      val src = spark.range(0L, 12L, 1L, 2).select(col("id"),
        when(col("id") % 6 === 5, lit(null).cast("string")).otherwise(
          element_at(array(samples.map(lit): _*), (col("id") % samples.size + 1).cast("int")))
          .as("t"),
        array((0 until 4).map(i => ((col("id") - i) * 0.5).cast("float")): _*).as("v"))
      val df = src.select(col("id"), col("t"), col("v"),
        Exprs.langidPredict(col("t"), langIdB).as("lid"),
        Exprs.perplexity(col("t"), lmB).as("ppl"),
        Exprs.hamming64(col("id"), col("id") * 7L).as("ham"),
        Exprs.simhash64(col("t")).as("sh"),
        Exprs.minhashBandKeys(col("t"), 3, 64, 16).as("mk"),
        Exprs.scrubAll(col("t")).as("sc"),
        Exprs.shingles(col("t"), 2).as("shg"),
        Exprs.pplRef(Exprs.langidBest(col("t"), langIdB), byLang, 5.75).as("ref"),
        Exprs.hyperplaneSig(col("v"), planes).as("sig"),
        Exprs.nearestCentroid(col("v"), centroids, halfNorms).as("nc"))
      val plan = df.queryExecution.executedPlan.toString
      Seq("langidRow", "perplexityScalar", "simhash64Scalar", "minhashBandKeysScalar",
        "scrubAllScalar", "shinglesScalar", "pplRefLookup", "hyperplaneSigScalar",
        "nearestCentroidScalar").foreach { fn =>
        assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains(fn)), fn + plan)
      }
      val rows = df.collect()
      assert(rows.length == 12)
      rows.foreach { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Float](2).toArray
        assert(r.getLong(5) == java.lang.Long.bitCount(id ^ (id * 7L)))
        assert(r.getInt(11) == graft.ops.Similarity.signatureOf(v, planes))
        assert(r.getInt(12) == graft.ops.Similarity.nearestCentroid(v, centroids, halfNorms))
        val shingles = Exprs.shinglesScalar(UTF8String.fromString(r.getString(1)), 2)
        assert(r.getSeq[String](9) ==
          (0 until shingles.numElements()).map(shingles.getUTF8String(_).toString))
        if (r.isNullAt(1)) {
          assert(Seq(3, 4, 6, 7, 8).forall(r.isNullAt), r)
          assert(r.getDouble(10) == 5.75)
        } else {
          val t = r.getString(1)
          val p = langIdB.value.predict(t)
          assert(r.getStruct(3).getString(0) == p.lang)
          assert(r.getStruct(3).getDouble(1) == p.acceptedProb)
          assert(r.getDouble(4) == lmB.value.perplexity(t))
          assert(r.getLong(6) == graft.ops.Dedup.simhash64(t))
          assert(r.getSeq[Long](7) == graft.ops.Dedup.minhashBandKeys(t, 3, 64, 16).toSeq)
          assert(r.getString(8) == graft.scrub.Scrub.scrubString(t))
          assert(r.getDouble(10) == byLang.getOrElse(p.lang, 5.75))
        }
      }
    }
  }

  test("model state never enters the generated source") {
    // two plans that differ only in model state must generate the same
    // code, so a refit or a recalibration reuses the compiled classes
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    def sources(langId: org.apache.spark.broadcast.Broadcast[graft.models.LangIdModel],
        lm: org.apache.spark.broadcast.Broadcast[graft.models.NGramLMModel],
        byLang: Map[String, Double], global: Double, seed: Long): Seq[String] = {
      val rnd = new java.util.Random(seed)
      def matrix(rows: Int) = Array.fill(rows)(Array.fill(4)(rnd.nextGaussian()))
      val centroids = matrix(3)
      val df = spark.range(0L, 8L, 1L, 2).select(
        col("id").cast("string").as("t"),
        array((0 until 4).map(i => (col("id") + i).cast("float")): _*).as("v"),
        array((0 until 4).map(i => (col("id") - i).cast("double")): _*).as("d"))
        .select(
          Exprs.langidPredict(col("t"), langId).as("lid"),
          Exprs.perplexity(col("t"), lm).as("ppl"),
          Exprs.pplRef(col("t"), byLang, global).as("ref"),
          Exprs.somBmu(col("d"), matrix(5)).as("bmu"),
          Exprs.hyperplaneSig(col("v"), matrix(10)).as("sig"),
          Exprs.nearestCentroid(col("v"), centroids,
            centroids.map(c => c.map(x => x * x).sum / 2.0)).as("nc"))
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    }
    val a = sources(langIdB, lmB, Map("en" -> 4.25, "fr" -> 7.5, "zh" -> 11.125), 5.75, 1L)
    val b = sources(spark.sparkContext.broadcast(LangId.pretrained),
      spark.sparkContext.broadcast(lmB.value), Map("de" -> 1.0), 2.5, 2L)
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("hamming64: symmetry, bounds, parity with bit_count") {
    val df = Seq((0L, -1L), (5L, 5L), (0x0fL, 0x01L)).toDF("a", "b")
    val rows = df.select(
      Exprs.hamming64(col("a"), col("b")).as("h1"),
      bit_count(col("a").bitwiseXOR(col("b"))).cast("long").as("h2"),
      Exprs.hamming64(col("b"), col("a")).as("h3")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(0) == r.getLong(2))
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 64)
    }
  }

  test("simhash64 / minhash band-key expressions: scalar parity + null + codegen") {
    val texts = Seq("a photo of a dog on the beach",
      "the same words the same words the same words", "")
    val df = texts.toDF("t")
    val rows = df.select(col("t"),
      Exprs.simhash64(col("t")).as("sh"),
      Exprs.minhashBandKeys(col("t"), 3, 64, 16).as("mk")).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == graft.ops.Dedup.simhash64(r.getString(0)))
      assert(r.getSeq[Long](2) ==
        graft.ops.Dedup.minhashBandKeys(r.getString(0), 3, 64, 16).toSeq)
    }
    val nullRow = Seq[(String, Int)]((null, 1)).toDF("t", "x")
      .select(Exprs.simhash64(col("t")), Exprs.minhashBandKeys(col("t"), 3, 64, 16))
      .head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
    // local Seq relations constant-fold away (ConvertToLocalRelation);
    // a range source keeps the expression in a codegen'd Project
    val plan = spark.range(10).selectExpr("cast(id as string) as t")
      .select(Exprs.simhash64(col("t")).as("s"))
      .filter(col("s") =!= 0L).queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("simhash64Scalar")), plan)
  }

  test("hyperplane signature expression: scalar parity + null + codegen") {
    val planes = graft.ops.Similarity.hyperplanes(dim = 8, nPlanes = 10, seed = 7L)
    val vecs = Seq(
      Array(1f, -2f, 0.5f, 3f, -1f, 0f, 2f, -0.25f),
      Array.fill(8)(0f),
      Array.tabulate(8)(i => (i - 4).toFloat))
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
    val rows = df.select(col("i"), Exprs.hyperplaneSig(col("v"), planes).as("sig"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) ==
        graft.ops.Similarity.signatureOf(vecs(r.getInt(0)), planes))
    }
    val nullRow = Seq[(Array[Float], Int)]((null, 1)).toDF("v", "x")
      .select(Exprs.hyperplaneSig(col("v"), planes)).head()
    assert(nullRow.isNullAt(0))
    // stays inside whole-stage codegen (the former UDF here was the one
    // serde boundary left in the ANN hot path)
    val plan = spark.range(10)
      .select(org.apache.spark.sql.functions.array(
        (0 until 8).map(i => (col("id") + i).cast("float")): _*).as("v"))
      .select(Exprs.hyperplaneSig(col("v"), planes).as("s"))
      .filter(col("s") >= 0).queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("hyperplaneSigScalar")), plan)
  }

  /** The Catalyst form of the per-language perplexity reference lookup
    * (a sorted map literal, then the global fallback): the parity
    * reference for the native Exprs.pplRef. */
  private def pplRefColCatalyst(predLang: org.apache.spark.sql.Column,
      pplRefByLang: Map[String, Double], pplRefGlobal: Double) = {
    val byLang =
      if (pplRefByLang.isEmpty) map()
      else map(pplRefByLang.toSeq.sortBy(_._1)
        .flatMap { case (l, v) => Seq(lit(l), lit(v)) }: _*)
    coalesce(element_at(byLang, predLang), lit(pplRefGlobal))
  }

  test("pplRef expression: exact parity with the map-literal coalesce chain") {
    // Scorer.pplScoreCol's native Exprs.pplRef against
    // coalesce(element_at(<map literal>, lang), lit(global)): identical
    // doubles on hits, misses, NULL language, and the empty-map fallback.
    import spark.implicits._
    val byLang = Map("en" -> 4.25, "fr" -> 7.5, "zh" -> 11.125)
    val langs = Seq("en", "fr", "zh", "de", "und", null, "")
      .map(Tuple1(_)).toDF("lang")
    val cmp = langs.select(
      Exprs.pplRef(col("lang"), byLang, 5.75).as("nat"),
      pplRefColCatalyst(col("lang"), byLang, 5.75).as("cat"))
    assert(cmp.filter(not(col("nat") <=> col("cat"))).count() == 0L)
    val cmpEmpty = langs.select(
      Exprs.pplRef(col("lang"), Map.empty[String, Double], 2.5).as("nat"),
      pplRefColCatalyst(
        col("lang"), Map.empty[String, Double], 2.5).as("cat"))
    assert(cmpEmpty.filter(not(col("nat") <=> col("cat"))).count() == 0L)
    // and inside whole-stage codegen (no fallback to interpreted mode);
    // a range-based source so ConvertToLocalRelation can't pre-evaluate
    val ranged = spark.range(10).select(
      when(col("id") % 2 === 0, lit("en")).otherwise(lit("xx")).as("lang"))
    val plan = ranged.select(Exprs.pplRef(col("lang"), byLang, 5.75).as("r"))
      .queryExecution.executedPlan.toString
    // "*(n)" marks operators inside WholeStageCodegen stage n
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("pplRefLookup")), plan)
    val vals = ranged.select(Exprs.pplRef(col("lang"), byLang, 5.75).as("r"))
      .collect().map(_.getDouble(0)).toSet
    assert(vals == Set(4.25, 5.75))
  }

  test("graft_scrub: exact parity with the regexp_replace chain") {
    val texts = Seq(
      "contact me at user9@example.com or 555-123-4567 now",
      "visit https://a.example/x?y=1 from 10.0.0.1",
      "my ssn is 123-45-6789 you unclefucker",
      "a perfectly clean caption about a dog",
      "")
    val df = texts.toDF("caption")
    val rows = df.select(col("caption"),
      Exprs.scrubAll(col("caption")).as("fast"),
      graft.scrub.Scrub.scrub(col("caption")).as("chain")).collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"mismatch on '${r.getString(0)}'")
      assert(r.getString(1) == graft.scrub.Scrub.scrubString(r.getString(0)))
    }
    val nullRow = Seq[(String, Int)]((null, 1)).toDF("caption", "x")
      .select(Exprs.scrubAll(col("caption"))).head()
    assert(nullRow.isNullAt(0))
  }

  test("nearest-centroid expression: scalar parity + null + codegen") {
    val centroids = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(-1.0, -1.0, 0.0))
    val halfNorms = centroids.map(c => c.map(x => x * x).sum / 2.0)
    val vecs = Seq(
      Array(0.9f, 0.1f, 0f), Array(0.1f, 2.0f, 0f), Array(-3f, -3f, 0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "v")
    val rows = df.select(col("i"),
      Exprs.nearestCentroid(col("v"), centroids, halfNorms).as("c")).collect()
    rows.foreach { r =>
      assert(r.getInt(1) == graft.ops.Similarity.nearestCentroid(
        vecs(r.getInt(0)), centroids, halfNorms))
    }
    assert(rows.sortBy(_.getInt(0)).map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    val nullRow = Seq[(Array[Float], Int)]((null, 1)).toDF("v", "x")
      .select(Exprs.nearestCentroid(col("v"), centroids, halfNorms)).head()
    assert(nullRow.isNullAt(0))
    val plan = spark.range(10)
      .select(org.apache.spark.sql.functions.array(
        (0 until 3).map(i => (col("id") + i).cast("float")): _*).as("v"))
      .select(Exprs.nearestCentroid(col("v"), centroids, halfNorms).as("c"))
      .filter(col("c") >= 0).queryExecution.executedPlan.toString()
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("nearestCentroidScalar")), plan)
  }

  test("GraftExtensions: injector applies cleanly and its builders evaluate") {
    // apply() must register every function without throwing (the
    // spark-submit path: --conf spark.sql.extensions=graft.GraftExtensions)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // a second session with different extensions can't be built in a
    // shared-JVM test; drive the SAME (name, builder) triples through
    // the live session's registry and assert SQL-level parity
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name + "_ext", builder, "scala_udf")
    }
    val r = spark.sql(
      """SELECT hamming64_ext(15L, 1L) AS h,
        |  graft_simhash64_ext('a photo of a dog') AS sh,
        |  graft_scrub_ext('mail user9@example.com now') AS sc,
        |  size(graft_minhash_bands_ext('a b c d e', 3, 64, 16)) AS nb
        |""".stripMargin).head()
    assert(r.getLong(0) == 3L)
    assert(r.getLong(1) == graft.ops.Dedup.simhash64("a photo of a dog"))
    assert(r.getString(2) == graft.scrub.Scrub.scrubString("mail user9@example.com now"))
    assert(r.getInt(3) == 16)
  }

  test("SQL functions reject a wrong arity, naming the expected count") {
    Exprs.registerSql(spark, langIdB, lmB)
    Seq("hamming64(1L)" -> "hamming64 expects 2 argument(s), got 1",
      "graft_scrub()" -> "graft_scrub expects 1 argument(s), got 0",
      "graft_langid('a', 'b')" -> "graft_langid expects 1 argument(s), got 2").foreach {
      case (call, msg) =>
        val e = intercept[IllegalArgumentException](spark.sql(s"SELECT $call").collect())
        assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("SQL registration: functions callable from spark.sql") {
    Exprs.registerSql(spark, langIdB, lmB)
    val out = spark.sql(
      """SELECT hamming64(15L, 1L) AS h,
        |  graft_langid('le chien court sur la plage') AS l,
        |  graft_accepted_prob('a photo of the dog') > 0.5 AS acc_ok,
        |  graft_perplexity('xqzvk pwxjq brtnk') > 0 AS ppl_ok""".stripMargin).head()
    assert(out.getLong(0) == 3L)
    assert(out.getString(1) == "fr")
    assert(out.getBoolean(2) && out.getBoolean(3))
  }
}

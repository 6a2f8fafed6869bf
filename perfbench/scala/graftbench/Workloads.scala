package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.detect.Scorer
import graft.discovery.{PhashDup, Thresholds}
import graft.engine.{Scratch, TableIO}
import graft.eval.Metrics
import graft.explain.{ClusterExplainer, SomClustering}
import graft.loop.ValidationRun
import graft.ops.{Dedup, Similarity}
import graft.synth.{GenConfig, ImageGen}

/** Attempted and failed operations of a run: every layer call and every
  * output check is one operation. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
}

/** One pass of a workload: its layer calls go through [[call]] (one span
  * each when tracing), its output checks through [[check]]. */
final class Pass(val index: Int, tracer: Tracer, ops: Ops) {
  def call[T](name: String)(body: => T): T = {
    ops.attempted += 1
    try tracer.span(name, "call")(body)
    catch {
      case e: Throwable =>
        ops.failed += 1
        ops.failures += s"pass $index $name: $e"
        throw e
    }
  }

  def rowsOut(n: Long): Unit = tracer.attr("rows_out", n.toDouble)
  def attr(key: String, value: Double): Unit = tracer.attr(key, value)

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    ops.attempted += 1
    if (!ok) {
      ops.failed += 1
      ops.failures += s"pass $index check $what: $detail"
    }
  }
}

/** A benchmark workload. [[prepare]] builds the inputs (repeatable, part
  * of set-up), [[run]] is one timed pass of layer calls, [[check]]
  * verifies that pass's outputs outside the timed region. */
trait Workload {
  def rows: Long
  /** Untimed passes before measuring, until pass walls stop falling as
    * the JIT and Spark's caches warm up. */
  def warmupPasses: Int
  def prepare(): Unit
  def run(p: Pass): Unit
  def check(p: Pass): Unit
  def release(): Unit
  /** Facts about the last checked pass, reported beside the metrics. */
  val info: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

object Workloads {
  val names: Seq[String] = Seq("filter_batch", "validation_loop", "dedup_suite")

  def apply(name: String, spark: SparkSession, seed: Long, workDir: String,
      cores: Int): Workload =
    name match {
      case "filter_batch" => new FilterBatch(spark, seed, workDir, cores)
      case "validation_loop" => new ValidationLoop(spark, seed, workDir, cores)
      case "dedup_suite" => new DedupSuite(spark, seed, workDir, cores)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
    }

  /** Generated inputs in two partitions per core: enough to keep every
    * core busy, few enough that a task still carries thousands of rows. */
  def cfg(n: Long, seed: Long, faultPct: Int, cores: Int): GenConfig =
    GenConfig(n = n, seed = seed, faultPct = faultPct, withBytes = false, parts = 2 * cores)

  /** (tp, fp, fn) of "drop" decisions against the generator's truth, and
    * the count of rows whose scrubbed caption differs from the expected
    * one (or that are missing on either side). */
  def decisionCounts(decisions: DataFrame, expected: DataFrame): (Long, Long, Long, Long) = {
    val e = expected.select(col("image_id"), col("decision").as("exp_decision"),
      col("scrubbed_caption").as("exp_scrub"))
    val r = decisions.select("image_id", "decision", "scrubbed_caption")
      .join(e, Seq("image_id"), "full_outer")
      .agg(
        sum(when(col("decision") === "drop" && col("exp_decision") === "drop", 1L)
          .otherwise(0L)),
        sum(when(col("decision") === "drop" && col("exp_decision") === "keep", 1L)
          .otherwise(0L)),
        sum(when(col("decision") === "keep" && col("exp_decision") === "drop", 1L)
          .otherwise(0L)),
        sum(when(col("decision").isNull || col("exp_decision").isNull ||
          !(col("scrubbed_caption") <=> col("exp_scrub")), 1L).otherwise(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }
}

/** Flagship one-shot filter: fit → duplicate ids → threshold → score,
  * decide and scrub → decisions written. The per-row layers do the work. */
final class FilterBatch(spark: SparkSession, seed: Long, workDir: String, cores: Int)
    extends Workload {
  val rows = 20000L
  val warmupPasses = 2
  private val cfg = Workloads.cfg(rows, seed, faultPct = 5, cores)
  private val out = s"$workDir/filter_batch/decisions"
  private var images: DataFrame = _
  private var expected: DataFrame = _
  private var knownCount = 0L

  def prepare(): Unit = {
    release()
    images = ImageGen.images(spark, cfg).cache()
    images.count()
    expected = ImageGen.expected(spark, cfg).cache()
    expected.count()
    knownCount = ImageGen.knownFaults(spark, cfg).count()
  }

  def run(p: Pass): Unit = {
    val models = p.call("models.fit")(Scorer.fit(spark, images))
    val dup = p.call("discovery.dup_ids") {
      val d = PhashDup.dropIds(images).cache()
      p.rowsOut(d.count())
      d
    }
    val t = p.call("discovery.threshold") {
      val scored = Scorer.withScores(images, models, dup).withColumn("status", lit("clean"))
      Thresholds.discover(scored, "invalidity_score", "status", knownCount, rows)._1
    }
    p.call("detect.validate") {
      TableIO.createOrReplace(
        Scorer.withDecision(Scorer.withScores(images, models, dup), t)
          .select("image_id", "decision", "invalidity_score", "scrubbed_caption"),
        out)
    }
    dup.unpersist()
    models.langId.destroy()
    models.lm.destroy()
  }

  def check(p: Pass): Unit = {
    val (tp, fp, fn, bad) = Workloads.decisionCounts(TableIO.read(spark, out), expected)
    val f1 = Metrics.f1(tp, fp, fn)
    info("decision_f1") = f1
    info("drop_tp") = tp.toDouble
    p.check("filter_batch.decision_f1", f1 >= 0.99, s"F1 $f1 (tp=$tp fp=$fp fn=$fn)")
    p.check("filter_batch.scrub_exact", bad == 0,
      s"$bad rows missing or with a scrubbed caption unequal to the expected one")
  }

  def release(): Unit = {
    Option(images).foreach(_.unpersist())
    Option(expected).foreach(_.unpersist())
  }
}

/** The oracle loop: `rounds` rounds into a fresh outDir, the same config
  * again on the completed outDir (the resume path), then SOM clustering
  * and rule extraction over the final faulty rows. */
final class ValidationLoop(spark: SparkSession, seed: Long, workDir: String, cores: Int)
    extends Workload {
  val rows = 4000L
  val warmupPasses = 1
  private val rounds = 3
  private val gen = Workloads.cfg(rows, seed, faultPct = 5, cores)
  private var expected: DataFrame = _
  private var knownCount = 0L
  private var dir: String = _
  private var first: ValidationRun.RunResult = _
  private var resumed: ValidationRun.RunResult = _
  private var assigned: Array[Row] = Array.empty
  private var rules: Array[Row] = Array.empty

  private def runCfg = ValidationRun.RunConfig(n = rows, rounds = rounds, seed = seed,
    faultPct = gen.faultPct, outDir = dir, parts = gen.parts)

  def prepare(): Unit = {
    release()
    expected = ImageGen.expected(spark, gen).cache()
    expected.count()
    knownCount = ImageGen.knownFaults(spark, gen).count()
  }

  def run(p: Pass): Unit = {
    dir = s"$workDir/validation_loop/pass${p.index}"
    Scratch.deleteRecursively(new java.io.File(dir))
    first = p.call("loop.run") {
      val r = ValidationRun.run(spark, runCfg)
      TableIO.createOrReplace(r.decisions, s"$dir/decisions")
      r
    }
    resumed = p.call("loop.resume") {
      val r = ValidationRun.run(spark, runCfg)
      TableIO.createOrReplace(r.decisions, s"$dir/decisions_resumed")
      r
    }
    // explain reads the decisions back, with the per-rule scores as columns
    val scored = TableIO.read(spark, s"$dir/decisions")
      .select((Seq(col("image_id"), col("decision"), col("invalidity_score")) ++
        Scorer.scoreNames.map(n => col("scores").getItem(n).as(n))): _*)
      .cache()
    val faulty = scored.filter(col("decision") === "drop")
    assigned = p.call("explain.som") {
      val a = SomClustering.clusterFaulty(faulty, Scorer.scoreNames).collect()
      p.rowsOut(a.length.toLong)
      a
    }
    rules = p.call("explain.rules") {
      val median = scored.agg(expr("percentile_approx(invalidity_score, 0.5D, 10000)"))
        .head().getDouble(0)
      val r = ClusterExplainer.explain(scored, Scorer.scoreNames,
        first.thresholds.last, median).collect()
      p.rowsOut(r.length.toLong)
      r
    }
    scored.unpersist()
  }

  def check(p: Pass): Unit = {
    // every round's metrics, recomputed from that round's audit rows
    val counts = TableIO.read(spark, s"$dir/audit").groupBy("run").agg(
      sum(when(col("is_susp"), 1L).otherwise(0L)),
      sum(when(col("is_susp") && col("is_known"), 1L).otherwise(0L)),
      sum(when(col("status_new").startsWith("actualFault"), 1L).otherwise(0L)),
      sum(when(col("status_old").startsWith("actualFault"), 1L).otherwise(0L)),
      sum(when(col("status_old").startsWith("actualFault") &&
        !col("status_new").startsWith("actualFault"), 1L).otherwise(0L)),
      sum(when(col("status_new").startsWith("actualFault") && !col("is_known"), 1L)
        .otherwise(0L))).collect().map(r => r.getInt(0) -> r).toMap
    p.check("validation_loop.audit_rounds", counts.keySet == (1 to rounds).toSet,
      s"audit rounds ${counts.keySet.toSeq.sorted}")
    (1 to rounds).filter(counts.contains).foreach { r =>
      val c = counts(r)
      val Seq(faulty, eInterA, afNew, afOld, afLost, afNotKnown) =
        (1 to 6).map(i => if (c.isNullAt(i)) 0L else c.getLong(i))
      def frac(a: Long, b: Long, empty: Double) = if (b > 0) a.toDouble / b else empty
      val tpr = if (afNew > 0 && faulty > 0) afNew.toDouble / faulty else 0.0
      val fnr = frac(afLost, afOld, 0.0)
      val tprs = first.metrics.take(r - 1).map(_.truePositiveRate) :+ tpr
      val tpgr = if (tprs.head <= 0.0) 0.0 else math.pow(tprs.last / tprs.head, 1.0 / tprs.length) - 1.0
      val want = Seq(frac(eInterA, knownCount, 0.0), frac(faulty - eInterA, faulty, 0.0),
        frac(knownCount - eInterA, knownCount, 1.0), frac(afNotKnown, faulty, 0.0),
        tpr, 1.0 - tpr, 1.0 - fnr, fnr, tpgr)
      val m = first.metrics(r - 1)
      val got = Seq(m.previouslyDetected, m.suspiciousDetected, m.undetected, m.newlyDetected,
        m.truePositiveRate, m.falsePositiveRate, m.trueNegativeRate, m.falseNegativeRate, m.tpgr)
      p.check(s"validation_loop.round$r.metrics",
        m.run == r && want.zip(got).forall { case (a, b) => math.abs(a - b) <= 1e-12 },
        s"recomputed $want, reported $got")
    }
    p.check("validation_loop.resume_metrics",
      resumed.metrics == first.metrics && resumed.thresholds == first.thresholds,
      s"resumed ${resumed.metrics} / ${resumed.thresholds} vs ${first.metrics} / ${first.thresholds}")
    val cols = Seq("image_id", "decision", "invalidity_score", "scrubbed_caption", "status")
    val a = TableIO.read(spark, s"$dir/decisions").select(cols.map(col): _*)
    val b = TableIO.read(spark, s"$dir/decisions_resumed").select(cols.map(col): _*)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    p.check("validation_loop.resume_decisions", diff == 0, s"$diff rows differ")
    val (tp, fp, fn, _) = Workloads.decisionCounts(a, expected)
    val f1 = Metrics.f1(tp, fp, fn)
    info("decision_f1") = f1
    p.check("validation_loop.decision_f1", f1 >= 0.99, s"F1 $f1 (tp=$tp fp=$fp fn=$fn)")
    val faultyRows = a.filter(col("decision") === "drop").count()
    val units = 25 // clusterFaulty's default 5 x 5 grid
    p.check("validation_loop.som_assignment",
      assigned.length == faultyRows && assigned.forall { r =>
        val u = r.getAs[Number]("cluster_id").intValue; u >= 0 && u < units },
      s"${assigned.length} assignments for $faultyRows faulty rows")
    p.check("validation_loop.rules", rules.nonEmpty && rules.forall(r => !r.isNullAt(1)),
      s"${rules.length} rules")
    info("faulty_rows") = faultyRows.toDouble
    info("rules") = rules.length.toDouble
  }

  def release(): Unit = Option(expected).foreach(_.unpersist())
}

/** Duplicate-heavy corpus: phash pairs and clusters (with near-duplicate
  * chains longer than the propagation's plain-round budget), caption
  * MinHash / n-gram Jaccard / SimHash, and embedding cosine near-dups. */
final class DedupSuite(spark: SparkSession, seed: Long, workDir: String, cores: Int)
    extends Workload {
  import spark.implicits._
  val rows = 6000L
  val warmupPasses = 1
  private val gen = Workloads.cfg(rows, seed, faultPct = 30, cores)
  private val chains = 16
  private var images: DataFrame = _
  private var emb: DataFrame = _
  private var phashOf: Map[String, Long] = Map.empty
  private var captionOf: Map[String, String] = Map.empty
  private var vecOf: Map[Long, Array[Float]] = Map.empty
  private var phashPairs: Array[(String, String, Int)] = Array.empty
  private var labels: Array[(String, String)] = Array.empty
  private var minhash: Array[(String, String, Double)] = Array.empty
  private var ngram: Array[(String, String, Double)] = Array.empty
  private var simhash: Array[(String, String, Int)] = Array.empty
  private var cosine: Array[(Long, Long, Double)] = Array.empty

  def prepare(): Unit = {
    release()
    val g = gen
    val s = seed
    val chainRows = DedupSuite.ChainLength.toLong * chains
    images = spark.range(0L, rows, 1L, g.parts).map { id =>
      val r = ImageGen.rowFor(g, id)._1
      if (id < chainRows) r.copy(phash = DedupSuite.chainPhash(s, id)) else r
    }.toDF().select("image_id", "caption", "phash").cache()
    val local = images.as[(String, String, Long)].collect()
    phashOf = local.map(r => r._1 -> r._3).toMap
    captionOf = local.map(r => r._1 -> r._2).toMap
    emb = Similarity.synthEmbeddings(spark, rows, dim = 32, seed = seed).cache()
    vecOf = emb.as[(Long, Array[Float])].collect().toMap
  }

  def run(p: Pass): Unit = {
    val pairs = PhashDup.duplicatePairs(images).cache()
    phashPairs = p.call("discovery.phash_pairs") {
      val a = pairs.as[(String, String, Int)].collect()
      p.rowsOut(a.length.toLong)
      a
    }
    labels = p.call("discovery.clusters") {
      val a = PhashDup.clusters(pairs).as[(String, String)].collect()
      p.rowsOut(a.length.toLong)
      a
    }
    pairs.unpersist()
    minhash = p.call("ops.minhash") {
      val a = Dedup.minhashPairs(images, "image_id", "caption")
        .as[(String, String, Double)].collect()
      p.rowsOut(a.length.toLong)
      a
    }
    ngram = p.call("ops.ngram") {
      val truncated = spark.sparkContext.longAccumulator("ngram_truncated")
      val a = Dedup.ngramJaccardPairs(images, "image_id", "caption",
        truncated = Some(truncated)).as[(String, String, Double)].collect()
      p.rowsOut(a.length.toLong)
      p.attr("truncated", truncated.value.toDouble)
      a
    }
    simhash = p.call("ops.simhash") {
      val a = Dedup.simhashPairs(images, "image_id", "caption")
        .as[(String, String, Int)].collect()
      p.rowsOut(a.length.toLong)
      a
    }
    cosine = p.call("ops.cosine") {
      val a = Similarity.cosineNearDupPairs(emb, dim = 32)
        .as[(Long, Long, Double)].collect()
      p.rowsOut(a.length.toLong)
      a
    }
  }

  def check(p: Pass): Unit = {
    p.check("dedup_suite.phash_hamming",
      Checks.hammingMismatches(phashPairs, phashOf, 4) == 0, "pairs off their Hamming bound")
    val have = phashPairs.map(q => (q._1, q._2)).toSet
    val missing = DedupSuite.chainPairs(chains).count { case (a, b) =>
      !have.contains((DedupSuite.imageId(a), DedupSuite.imageId(b)))
    }
    p.check("dedup_suite.chain_recall", missing == 0, s"$missing chain links within 4 bits missing")
    val wrongLabels = Checks.clusterMismatches(have, labels)
    p.check("dedup_suite.clusters_union_find", wrongLabels == 0,
      s"$wrongLabels labels differ from the union-find component minimum")
    p.check("dedup_suite.minhash_jaccard",
      Checks.jaccardMismatches(minhash, captionOf, 3, 0.8) == 0, "pairs below Jaccard 0.8")
    p.check("dedup_suite.ngram_jaccard",
      Checks.jaccardMismatches(ngram, captionOf, 3, 0.8) == 0, "pairs below Jaccard 0.8")
    val simhashOf = (id: String) => Dedup.simhash64(captionOf(id))
    p.check("dedup_suite.simhash_hamming",
      Checks.hammingMismatches(simhash, simhashOf, 3) == 0, "pairs off their Hamming bound")
    p.check("dedup_suite.cosine",
      Checks.cosineMismatches(cosine, vecOf, 0.97) == 0, "pairs below cosine 0.97")
    p.check("dedup_suite.nonempty",
      Seq(phashPairs.length, minhash.length, ngram.length, simhash.length, cosine.length)
        .forall(_ > 0), "an operator returned no pairs")
    info("phash_pairs") = phashPairs.length.toDouble
    info("clustered_ids") = labels.length.toDouble
    info("minhash_pairs") = minhash.length.toDouble
    info("ngram_pairs") = ngram.length.toDouble
    info("simhash_pairs") = simhash.length.toDouble
    info("cosine_pairs") = cosine.length.toDouble
  }

  def release(): Unit = {
    Option(images).foreach(_.unpersist())
    Option(emb).foreach(_.unpersist())
  }
}

object DedupSuite {
  /** Rows per near-duplicate chain. Link k differs from link 0 in k bits
    * and from link k+j in j bits, so at Hamming bound 4 a chain's diameter
    * is ceil((ChainLength - 1) / 4) = 16 propagation rounds. */
  val ChainLength = 64

  def imageId(id: Long): String = String.format(java.util.Locale.ROOT, "img%09d", Long.box(id))

  /** Phash of chain row `id`: the chain's random base with the first
    * `id % ChainLength` bits of a per-chain bit permutation flipped. */
  def chainPhash(seed: Long, id: Long): Long = {
    val chain = id / ChainLength
    val link = (id % ChainLength).toInt
    val rng = new ImageGen.Rng(seed, chain, 0xC4A1L)
    val base = rng.nextLong()
    val bits = Array.tabulate(64)(identity)
    var i = 0
    while (i < 63) { // Fisher-Yates
      val j = i + rng.nextInt(64 - i)
      val t = bits(i); bits(i) = bits(j); bits(j) = t
      i += 1
    }
    var h = base
    (0 until link).foreach(k => h ^= 1L << bits(k))
    h
  }

  /** Every (smaller, larger) row-id pair within one chain whose phashes
    * differ in at most 4 bits. */
  def chainPairs(chains: Int): Seq[(Long, Long)] =
    for {
      c <- 0 until chains
      k <- 0 until ChainLength
      j <- 1 to 4 if k + j < ChainLength
    } yield (c.toLong * ChainLength + k, c.toLong * ChainLength + k + j)
}

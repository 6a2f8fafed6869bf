package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.detect.Scorer
import graft.discovery.PhashDup
import graft.engine.{Scratch, Tables}
import graft.loop.ValidationRun
import graft.synth.{GenConfig, ImageGen}

/** Memoized pipeline artifacts so the Verify/Bench harness doesn't refit
  * models per query. Keyed by row count; one SparkSession per process. */
object PipelineCache {
  private val cache = scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  private def cached[T <: AnyRef](key: String)(mk: => T): T =
    cache.getOrElseUpdate(key, mk).asInstanceOf[T]

  /** Drop all cached frames/models (required between SparkSessions). */
  def clear(): Unit = cache.clear()

  // fixture-sized corpora get data-derived partitioning (8 parts at
  // N=2000): results do not depend on the partition count, and fewer
  // tasks cut per-job scheduling overhead across every pipeline query in
  // the process.
  def genCfg(n: Long): GenConfig =
    GenConfig(n = n, parts = GenConfig.adaptiveParts(n))

  /** Per-rule score column names in the scored frame. */
  val scoreNames: Seq[String] = Scorer.scoreNames

  def images(spark: SparkSession, n: Long): DataFrame =
    cached(s"images/$n") { ImageGen.images(spark, genCfg(n)).cache() }

  def models(spark: SparkSession, n: Long): Scorer.Models =
    cached(s"models/$n") { Scorer.fit(spark, images(spark, n)) }

  def scored(spark: SparkSession, n: Long): DataFrame =
    cached(s"scored/$n") {
      val dupDrop = PhashDup.dropIds(images(spark, n))
      Scorer.withScores(images(spark, n), models(spark, n), dupDrop).cache()
    }

  /** Discovered (threshold, median) of the invalidity-score
    * distribution — ONE knownFaults count + ONE discovery aggregation
    * per process, shared by `decisions` and the cluster-rule/SOM
    * fixture writers (which would otherwise re-run both with identical
    * inputs and results). */
  def thresholdMedian(spark: SparkSession, n: Long): (Double, Double) =
    cached(s"threshold/$n") {
      val withStatus = scored(spark, n).withColumn("status", lit("clean"))
      val knownCount = ImageGen.knownFaults(spark, genCfg(n)).count()
      // the scored frame holds exactly n rows: dropIds is distinct per id
      graft.discovery.Thresholds.discover(
        withStatus, "invalidity_score", "status", knownCount, n)
    }

  def decisions(spark: SparkSession, n: Long): DataFrame =
    cached(s"decisions/$n") {
      val (t, _) = thresholdMedian(spark, n)
      Scorer.withDecision(scored(spark, n), t)
        .select("image_id", "decision", "invalidity_score", "scrubbed_caption")
    }

  /** Brute-force cosine top-5 over the DRIVER embeddings table for the
    * fixed query set `vec_id < 3` — computed and cached ONCE per process
    * and shared by the three ANN queries (qf_ann_brute,
    * qf_ann_lsh_recall, qf_ann_ivf_driver each recomputed it before,
    * ~1/3 of the ANN query-phase cost for zero semantic difference). */
  def bruteDriverTop5(spark: SparkSession, dir: String): DataFrame =
    cached(s"bruteDriverTop5/$dir") {
      val emb = graft.engine.Tables.embeddings(spark, dir)
        .select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val top = graft.ops.Similarity.bruteForceTopK(emb, queries, k = 5).cache()
      top.count()
      top
    }
}

/** Queries over the synthetic image+caption pipeline — the engine's
  * flagship operators. EVERY query here is DuckDB-oracle-checked via
  * the fixture pattern: deterministic inputs (and, where the engine's
  * result is model- or codec-derived, the engine's own intermediate
  * outputs) are written to parquet during Verify, and the oracle SQL
  * recomputes the result from them relationally — O(n²) pair joins vs
  * the banding ops, recursive CTEs vs the cluster closures, exact
  * similarity recomputed per emitted pair for the signature dedups,
  * regex/scrub chains re-run per raw caption, windowed RMS and frame
  * slicing rebuilt from exploded payload bytes. Fixture-pattern checks
  * are one-sided where noted per query (the fixture itself is
  * spec-tested, the aggregation over it engine-verified). */
object PipelineQueries {

  private val N = 2000L

  /** One oracle fixture: the single-part parquet dir `<root>/<name>.parquet`
    * a query writes during Verify and its oracle SQL reads back by
    * absolute path, so the DuckDB compare works from any cwd. */
  private[graft] final case class Fixture(name: String) {
    def path: String = new java.io.File(Fixture.root, s"$name.parquet").getPath

    /** DuckDB table expression over the part files Spark writes here. */
    def sql: String = Fixture.readParquet(s"$path/*.parquet")

    def read(s: SparkSession): DataFrame = s.read.parquet(path)

    def write(df: DataFrame): Unit = df.coalesce(1).write.mode("overwrite").parquet(path)

    /** [[write]], then the frame read back from the written file. */
    def writeRead(df: DataFrame): DataFrame = { write(df); read(df.sparkSession) }

    /** Runs `body`, which writes this fixture, once per process. */
    def once(body: => Unit): Unit = Fixture.once(path)(body)

    /** For fixtures whose content is a pure function of the deterministic
      * generator: several queries share them, and the duplicate writes
      * were otherwise charged into every sharing query's bench timing. */
    def writeOnce(df: => DataFrame): Unit = once(write(df))
  }

  private[graft] object Fixture {
    /** The root for tests and the bench; `Verify.main` gives each
      * output dir a root of its own. */
    val DefaultRoot = "target/verify-fixtures"
    @volatile private var rootDir = new java.io.File(DefaultRoot).getAbsolutePath

    /** Absolute dir every fixture and [[PipelineLoop.loopDir]] live under. */
    def root: String = rootDir
    def root_=(dir: String): Unit = rootDir = new java.io.File(dir).getAbsolutePath

    private val done = scala.collection.concurrent.TrieMap.empty[String, Boolean]
    def once(key: String)(body: => Unit): Unit = done.getOrElseUpdate(key, { body; true }): Unit
    def forget(key: String): Unit = done.remove(key): Unit

    /** DuckDB `read_parquet` over an absolute glob, quotes escaped. */
    def readParquet(glob: String): String = s"read_parquet('${glob.replace("'", "''")}')"
  }

  /** (image_id, phash): both phash oracles read it, so both queries
    * write it and map iteration order doesn't matter. */
  private val phashInput = Fixture("phash_input")
  private def writePhashFixture(s: SparkSession): Unit =
    phashInput.writeOnce(PipelineCache.images(s, N).select(col("image_id"), col("phash")))

  /** (image_id, simhash64(caption)) fixture for the simhash-dedup
    * oracle — the engine's banding has GUARANTEED recall at
    * Hamming ≤ 3, so DuckDB's O(n²) Hamming join over the fixture is an
    * exact oracle (same argument as the phash oracle). */
  private val simhashInput = Fixture("simhash_input")

  /** (image_id, caption) fixture for the n-gram Jaccard oracle: the
    * operator's candidate rule (distinct shingles among the first 32
    * positions, per-shingle df cap by id rank) and the exact-Jaccard
    * verify are both deterministic and SQL-expressible, so DuckDB can
    * recompute the full result from the raw captions. */
  private val captionInput = Fixture("caption_input")
  private def writeCaptionFixture(s: SparkSession): Unit =
    captionInput.writeOnce(PipelineCache.images(s, N).select(col("image_id"), col("caption")))

  /** Emitted-pair fixtures for the SOUNDNESS oracles: the engine's
    * signature banding (minhash) / hyperplane bucketing (embedding) is
    * not SQL-reproducible, but every pair it EMITS is checkable — the
    * query writes its own result as a fixture, and DuckDB recomputes the
    * exact similarity for exactly those pairs from the raw captions /
    * vectors and re-applies the threshold. An unsound pair (true
    * similarity below threshold) disappears from the oracle side and
    * fails the row/hash compare; a wrong similarity VALUE fails the
    * hash. Recall (no pair missed) is covered by the seeded-ground-truth
    * ScalaTest gates (OpsSpec), which this one-sided oracle cannot see. */
  private val minhashPairs = Fixture("minhash_pairs")
  private val embInput = Fixture("emb_input")
  private val embPairs = Fixture("emb_pairs")
  private val embClusterPairs = Fixture("emb_cluster_pairs")
  private val embDriverPairs = Fixture("emb_driver_pairs")
  /** Generator-side ground truth (expected decision / scrubbed caption /
    * fault class per row) — lets DuckDB recompute the accuracy and
    * scrub-equality aggregations independently. */
  private val expectedInput = Fixture("expected_input")
  private val decisionsOut = Fixture("decisions_out")
  private val langidOut = Fixture("langid_out")
  /** Per-row (ts, decision) audit stream from qf_stream_window's scored
    * micro-batches — lets DuckDB recompute the tumbling-window counts
    * with plain epoch arithmetic (the window-assignment + aggregation
    * half of the streaming query; decision parity with batch is
    * spec-asserted separately in StreamingSpec). */
  private val streamRows = Fixture("stream_rows")

  private def writeExpectedFixture(s: SparkSession): Unit =
    expectedInput.writeOnce(ImageGen.expected(s, PipelineCache.genCfg(N))
      .select(col("image_id"), col("decision").as("expected_decision"),
        col("scrubbed_caption").as("expected_scrub"), col("fault_class")))

  /** Shared ANN-recall shape: write the engine's top-k as a fixture,
    * count per-query hits against the brute-force baseline, and keep
    * zero-hit queries as explicit 0 rows (a recall collapse must surface
    * as a value, not a missing row). The DuckDB side mirrors this via
    * [[oracleSql]]'s annRecallSql. */
  private def recallVsBrute(s: SparkSession, brute: DataFrame, topk: DataFrame,
      qIds: Seq[Long], fixture: Fixture): DataFrame = {
    import s.implicits._
    val hits = brute.join(fixture.writeRead(topk), Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    qIds.toDF("query_id")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits_of_5"))
      .orderBy("query_id")
  }
  private val lshTopk = Fixture("ann_lsh_topk")
  private val ivfTopk = Fixture("ann_ivf_topk")
  private val ivfDriverTopk = Fixture("ann_ivf_driver_topk")

  private def writeDecisionsFixture(s: SparkSession): Unit =
    decisionsOut.writeOnce(PipelineCache.decisions(s, N).select("image_id", "decision"))

  /** Decoded-pixel fidelity fixtures: the engine side decodes every
    * payload through the real codec path (encode → bytes → ImageIO) and
    * dumps the raw channels; the expected side replays the generator's
    * splitmix64 pixel stream with NO codec involved
    * ([[ImageGen.expectedPixels]]). DuckDB then recomputes per-row SSE
    * between the two pixel lists itself — the BASELINE.md invariant
    * (lossless exact, jpeg PSNR ≥ 40 dB) checked by an independent
    * engine, per row. */
  private val decodedPixels = Fixture("decoded_pixels")
  private val expectedPixels = Fixture("expected_pixels")
  private val fidelityN = 200L
  private def writePixelFixtures(s: SparkSession): Unit = {
    decodedPixels.writeOnce {
      val imgs = ImageGen.images(s, PipelineCache.genCfg(fidelityN).copy(withBytes = true))
      graft.ops.Multimodal.decodePixels(imgs).toDF()
        .join(imgs.select("image_id", "fmt"), "image_id")
        .select("image_id", "fmt", "decode_ok", "pixels")
    }
    expectedPixels.writeOnce(ImageGen.expectedPixelRows(s, PipelineCache.genCfg(fidelityN)))
  }

  /** Real-codec media fixtures.
    *
    * Audio: the exploded WAV CONTAINER bytes `(id, i, v)`
    * ([[graft.ops.Multimodal.explodeBytes]] over the synthesized
    * RIFF/WAVE payloads). DuckDB re-derives the sample rate from the
    * fmt chunk, every little-endian int16 sample from the data chunk,
    * and the windowed RMS — so the engine's REAL `javax.sound` decode
    * is verified end to end by an independent engine reading nothing
    * but the container bytes. The generator emits canonical
    * 44-byte-header WAVs, so the oracle's sample offset is fixed at 44;
    * non-canonical chunk layouts (which the engine parser must also
    * navigate) are spec-tested in MediaCodecSpec.
    *
    * Video: the GENERATOR-TRUTH demux table
    * `(video_id, frame_idx, byte_off, n_bytes)` — the engine has to
    * rediscover every MJPEG frame boundary from the bytes alone for the
    * hashes to meet — plus the engine-decoded frame pixels for the
    * relational phash recompute (same honesty label as
    * qf_phash_compute: the hash arithmetic is oracle-checked from raw
    * channels, the ImageIO decode itself is pinned by the PSNR spec). */
  private val audioN = 40L
  private val videoN = 20L
  // ONE stride for the frame-sampling contract: the engine call, the
  // frame-pixels fixture writer, and the oracle SQL's modulus must
  // agree or the compare mismatches spuriously
  private val videoEvery = 2
  private val wavBytes = Fixture("wav_bytes")
  private val expectedFrames = Fixture("expected_frames")
  private val framePixels = Fixture("frame_pixels")
  private def writeVideoFixtures(s: SparkSession): Unit = {
    expectedFrames.writeOnce(graft.synth.MediaGen.expectedFrames(s, videoN))
    framePixels.writeOnce {
      val spark = s
      import spark.implicits._
      graft.synth.MediaGen.videos(s, videoN)
        .select(col("video_id"), col("bytes")).as[(String, Array[Byte])]
        .flatMap { case (id, bytes) =>
          val idx = graft.ops.Multimodal.demuxMjpeg(bytes)
          (0 until idx.length by videoEvery).iterator.flatMap { f =>
            val (off, len) = idx(f)
            // ImageIO.read returns null (not an exception) for an
            // undecodable frame; skip it — the engine side sentinels
            // the same frame decode_ok=false, so the oracle compare
            // surfaces a row-level mismatch instead of this fixture
            // writer crashing the whole Verify run
            Option(graft.ops.Multimodal.decodeImage(
              java.util.Arrays.copyOfRange(bytes, off, off + len)))
              .map(img => (id, f, graft.ops.Multimodal.pixelChannels(img)))
          }
        }.toDF("video_id", "frame_idx", "pixels")
    }
  }

  /** Cluster-rule verification fixtures: the engine's structured rules
    * (tree leaves as conjunct lists with FULL-precision thresholds), the
    * per-cluster labeled training rows, and the flat conjunct table.
    * DuckDB re-evaluates every rule against the labeled rows relationally
    * (unpivot → conjunct join) and recomputes each rule's match/invalid
    * counts — the model path's first independent-engine check. */
  private val clusterLabeled = Fixture("cluster_labeled")
  private val clusterRules = Fixture("cluster_rules")
  private val clusterConjuncts = Fixture("cluster_conjuncts")
  private def writeClusterRuleFixtures(s: SparkSession): Unit =
    clusterRules.once {
      import s.implicits._
      val scored = PipelineCache.scored(s, N).withColumn("status", lit("clean"))
      val (t, med) = PipelineCache.thresholdMedian(s, N)
      val (rules, labeled) = graft.explain.ClusterExplainer.explainStructured(
        scored, PipelineCache.scoreNames, t, med)
      clusterLabeled.write(labeled)
      labeled.unpersist()
      clusterRules.write(rules.map(r => (r.cluster_id, r.rule_id, r.verdict, r.rule))
        .toDF("cluster_id", "rule_id", "verdict", "rule"))
      clusterConjuncts.write(rules.flatMap(r => r.conjuncts.zipWithIndex.map { case (c, i) =>
        (r.cluster_id, r.rule_id, i, c.feature, c.op, c.threshold)
      }).toDF("cluster_id", "rule_id", "conj_id", "feature", "op", "threshold"))
    }

  /** SOM (M9) fixtures: the faulty rows' score vectors and the trained
    * batch-SOM codebook (unit, w_0..w_{dim-1}), so DuckDB can re-derive
    * every BMU assignment relationally (cross join → squared-distance
    * argmin with the same first-min tie rule). One-sided like the other
    * model fixtures: the FIT is spec-tested (SomSpec — Lloyd-step
    * degeneration, determinism, QE descent), the ASSIGNMENT over the
    * written codebook is what the oracle independently recomputes. */
  private val somFeatures = Fixture("som_features")
  private val somCodebook = Fixture("som_codebook")
  private def writeSomFixtures(s: SparkSession): Unit =
    somCodebook.once {
      val scored = PipelineCache.scored(s, N)
      val (t, _) = PipelineCache.thresholdMedian(s, N)
      // fit from the written fixture so the codebook is a pure function
      // of the bytes the oracle reads (parquet doubles are exact anyway),
      // by the same bounded fit as SomClustering.clusterFaulty
      val feats = somFeatures.writeRead(scored.filter(col("invalidity_score") >= t)
        .select((col("image_id") +:
          PipelineCache.scoreNames.map(c => col(c).cast("double").as(c))): _*))
      val model = graft.explain.SomClustering.fitBounded(feats, PipelineCache.scoreNames)
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("unit",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
          (0 until model.dim).map(i => org.apache.spark.sql.types.StructField(
            s"w_$i", org.apache.spark.sql.types.DoubleType, nullable = false)))
      val rows = model.weights.zipWithIndex.map { case (w, u) =>
        org.apache.spark.sql.Row.fromSeq(u +: w.toSeq)
      }
      somCodebook.write(s.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    }

  /** Fidelity rule shared by both engines (exact integer arithmetic, no
    * floating-point boundary calls): lossless formats must decode to the
    * generator-truth pixels EXACTLY (sse = 0); jpeg rows must decode to a
    * well-formed 16×16 RGB frame (the jpeg ENCODE in the generator is
    * itself lossy on noise payloads — measuring the JDK codec's quality
    * is not this engine's contract; the north rule's PSNR ≥ 40 dB clause
    * is about the PIPELINE preserving pixels, which passes bytes through
    * opaque at PSNR = ∞, spec-asserted in ParityOpsSpec). */
  private[graft] val fidelityChannels = 16 * 16 * 3

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M5–M8 + P3: full score → threshold → keep/drop pass, emitted
    // PER-ROW. Hash-checked via the fixture pattern (the qf_f1 shape
    // applied row-wise): decisions are written as a fixture and the
    // oracle re-emits each (image_id, decision) from it while
    // independently recomputing scrubbed_caption by re-running the
    // frozen scrub chain over the RAW caption fixture — full per-row
    // decision-stream + scrub parity, not just aggregate F1.
    // (invalidity_score is model state, not SQL-recomputable; it stays
    // covered by qf_f1/threshold queries.)
    "qf_decisions" -> ((s, _) => {
      writeCaptionFixture(s)
      writeDecisionsFixture(s)
      PipelineCache.decisions(s, N)
        .select("image_id", "decision", "scrubbed_caption")
        .orderBy("image_id")
    }),

    // Accuracy evidence: keep/drop confusion counts + F1 vs the seeded
    // oracle labels (BASELINE.md F1 ≥ 0.99 gate). Hash-checked: the
    // engine's decisions are written as a fixture and DuckDB recomputes
    // tp/fp/fn/f1 from them against the generator's expected labels.
    "qf_f1" -> ((s, _) => {
      writeExpectedFixture(s)
      writeDecisionsFixture(s)
      val dec = decisionsOut.read(s)
      val exp = expectedInput.read(s)
        .select(col("image_id"), col("expected_decision").as("expected"))
      val c = dec.join(exp, Seq("image_id")).agg(
        sum(when(col("decision") === "drop" && col("expected") === "drop", 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("decision") === "drop" && col("expected") === "keep", 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("decision") === "keep" && col("expected") === "drop", 1L)
          .otherwise(0L)).as("fn")).head()
      val (tp, fp, fn) = (c.getLong(0), c.getLong(1), c.getLong(2))
      import s.implicits._
      Seq((tp, fp, fn, graft.eval.Metrics.f1(tp, fp, fn)))
        .toDF("tp", "fp", "fn", "f1")
    }),

    // M16: exact scrubbed-caption equality per fault class. Hash-checked
    // end-to-end: DuckDB re-runs the frozen scrub chain over the RAW
    // caption fixture (same regexes, the q19 pattern) and compares
    // against the generator's expected scrubs — a Spark-side scrub
    // divergence would break the per-class counts.
    "qf_scrub_equality" -> ((s, _) => {
      writeCaptionFixture(s)
      writeExpectedFixture(s)
      val dec = PipelineCache.decisions(s, N)
        .select("image_id", "scrubbed_caption")
      val exp = expectedInput.read(s)
        .select("image_id", "expected_scrub", "fault_class")
      dec.join(exp, Seq("image_id"))
        .groupBy(col("fault_class"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("scrubbed_caption") === col("expected_scrub"), 1L)
            .otherwise(0L)).as("n_exact"))
        .orderBy("fault_class")
    }),

    // North-rule phash banding: verified near-duplicate pairs
    // (hash-checked: the DuckDB oracle recomputes all pairs O(n²) over
    // the parquet fixture — banding must lose nothing vs the full join)
    "qf_phash_dup_pairs" -> ((s, _) => {
      writePhashFixture(s)
      PhashDup.duplicatePairs(PipelineCache.images(s, N))
        .orderBy("id1", "id2")
    }),

    // North-rule duplicate clusters: union-find component minimum over
    // the verified pair graph (hash-checked vs DuckDB recursive
    // transitive closure over the same fixture)
    "qf_phash_clusters" -> ((s, _) => {
      writePhashFixture(s)
      PhashDup.clusters(PhashDup.duplicatePairs(PipelineCache.images(s, N)))
        .orderBy("image_id")
    }),

    // M2: langid model predictions per language — native codegen'd
    // expression (no UDF serde), same broadcast weights as the pipeline.
    // Hash-checked via the fixture pattern: the per-row predictions are
    // written and DuckDB recomputes the per-language counts.
    "qf_langid_counts" -> ((s, _) => {
      val m = PipelineCache.models(s, N)
      langidOut.writeRead(PipelineCache.images(s, N)
        .select(col("image_id"), org.apache.spark.sql.graft.Exprs
          .langidBest(col("caption"), m.langId).as("pred_lang")))
        .groupBy("pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("pred_lang")
    }),

    // M15: the 3-round oracle loop's metrics history (TPR/FNR/PD/ND/UD/
    // TPGR). Hash-checked: each round writes a per-row AUDIT fixture
    // (is_susp, is_known, status_old, status_new) and the DuckDB oracle
    // recomputes every metric from it with the Evaluation.py:6-30
    // formulas (same operation order). All double columns are rounded
    // to 9dp on BOTH sides: TPGR goes through pow(), whose last bit is
    // not guaranteed identical across libm implementations.
    "qf_metrics_loop" -> ((s, _) => {
      val res = PipelineLoop.cachedLoop(s)
      import s.implicits._
      val df = res.metrics.toDF()
      df.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.DoubleType => f.name
      }.foldLeft(df)((d, c) => d.withColumn(c, round(col(c), 9)))
        .orderBy("run")
    }),

    // Dedup: MinHash+LSH near-dup pairs on the synthetic captions
    // (near_duplicate rows share their base row's caption).
    // Soundness-oracle-checked: DuckDB recomputes exact Jaccard from the
    // raw captions for every emitted pair and re-applies >= 0.8.
    "qf_dedup_minhash" -> ((s, _) => {
      writeCaptionFixture(s)
      minhashPairs.writeRead(graft.ops.Dedup.minhashPairs(
        PipelineCache.images(s, N), "image_id", "caption")).orderBy("id1", "id2")
    }),

    // Dedup: SimHash fingerprint + Hamming banding (hash-checked: the
    // DuckDB oracle recomputes all pairs O(n²) over the fingerprint
    // fixture — guaranteed-recall banding must lose nothing)
    "qf_dedup_simhash" -> ((s, _) => {
      // same token-free exclusion as Dedup.simhashPairs: letter-free
      // captions all fingerprint to 0L with no similarity signal, so the
      // operator skips them and the oracle must see the same population
      simhashInput.writeOnce(PipelineCache.images(s, N)
        .filter(col("caption").rlike("\\p{L}"))
        .select(col("image_id"),
          org.apache.spark.sql.graft.Exprs.simhash64(col("caption")).as("simhash")))
      graft.ops.Dedup.simhashPairs(
        PipelineCache.images(s, N), "image_id", "caption")
        .orderBy("id1", "id2")
    }),

    // Dedup: n-gram Jaccard verification over shingle-band candidates
    // (hash-checked: candidate rule + exact Jaccard recomputed in SQL
    // over the caption fixture)
    "qf_dedup_ngram" -> ((s, _) => {
      writeCaptionFixture(s)
      graft.ops.Dedup.ngramJaccardPairs(
        PipelineCache.images(s, N), "image_id", "caption")
        .orderBy("id1", "id2")
    }),

    // Dedup: embedding-cosine near-dup via hyperplane-LSH buckets.
    // Soundness-oracle-checked: DuckDB recomputes the exact cosine from
    // the raw vectors for every emitted pair. The THRESHOLD decision is
    // made on the 4dp-ROUNDED cosine on BOTH engines (the operator runs
    // with a slightly relaxed internal cutoff, then this query filters
    // round(cos,4) >= 0.97; DuckDB applies ROUND(cos,4) >= 0.97): a
    // float/double-boundary pair can no longer pass the threshold on one
    // engine and fail on the other — both sides decide on values that
    // agree to ~1e-15 rounded to the same 4dp grid.
    "qf_dedup_embedding" -> ((s, _) => {
      val emb = graft.ops.Similarity.synthEmbeddings(s, 2000L)
      embInput.writeOnce(emb)
      embPairs.writeRead(
        graft.ops.Similarity.cosineNearDupPairs(emb, dim = 32, threshold = 0.96995)
          .select(col("id1"), col("id2"), round(col("cos"), 4).as("cos"))
          .filter(col("cos") >= 0.97))
        .orderBy("id1", "id2")
    }),

    // Dedup: semantic duplicate CLUSTERS — union-find component
    // minimum over the embedding near-dup pair graph (the same
    // scale shape as qf_phash_clusters, composed with the cosine
    // operator). Hash-checked: DuckDB recomputes the transitive closure
    // over the emitted pair fixture with a recursive CTE.
    "qf_dedup_emb_clusters" -> ((s, _) => {
      val emb = graft.ops.Similarity.synthEmbeddings(s, 2000L)
      val pairs = graft.ops.Similarity.cosineNearDupPairs(emb, dim = 32)
        .select(col("id1"), col("id2"))
      PhashDup.clusters(embClusterPairs.writeRead(pairs))
        .select(col("image_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),

    // Same composed shape (hyperplane banding → fused cosine run-scan →
    // union-find clusters) over the DRIVER embeddings table. The driver
    // vectors are uniform (max pairwise cosine ≈0.51), so no true
    // near-dups exist at the production 0.97 threshold — the variant
    // runs at a threshold the corpus supports (0.40, 59 true pairs at
    // sf0.01) with the banding retuned for it by the recall formula in
    // the operator doc: per-bit p = 1−acos(0.40)/π ≈ 0.63, so 3 planes ×
    // 4 tables gives P(candidate) ≈ 1−(1−0.63³)⁴ ≈ 0.68 where the
    // production 8×2 would find ~5%. Oracle: DuckDB recomputes each
    // emitted pair's exact cosine from the RAW driver table (dropping
    // any unsound pair would change the closure → hash mismatch) and
    // the transitive closure via recursive CTE. The threshold decision
    // is made on the 4dp-rounded cosine on both engines, as in
    // qf_dedup_embedding.
    "qf_dedup_emb_clusters_driver" -> ((s, d) => {
      val emb = graft.engine.Tables.embeddings(s, d)
      val pairs = graft.ops.Similarity.cosineNearDupPairs(
          emb, dim = 64, threshold = 0.3995, nPlanes = 3, tables = 4)
        .filter(round(col("cos"), 4) >= 0.40)
        .select(col("id1"), col("id2"))
      PhashDup.clusters(embDriverPairs.writeRead(pairs))
        .select(col("image_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),

    // Similarity: brute-force cosine top-k on the driver embeddings
    // table (hash-checked: plain SQL in DuckDB via list_dot_product;
    // cos rounded to 4dp on both sides — double math agrees to ~1e-15,
    // rounding absorbs the last-bit accumulation-order difference)
    "qf_ann_brute" -> ((s, d) =>
      PipelineCache.bruteDriverTop5(s, d)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rank")),

    // Similarity: IVF ANN (second scale path — KMeans coarse quantizer,
    // native nearest-centroid assign, nprobe-list search) recall vs
    // brute force on the clustered fixture (IVF earns its keep where
    // the corpus HAS cluster structure; see ivfTopK doc)
    // Oracle-checked (soundness-fixture pattern): the IVF top-k output
    // is written as a fixture and DuckDB recomputes brute-force top-5
    // over the (also written) embedding fixture, then the intersection
    // counts per query — a recall collapse shows as hits_of_5 dropping
    // on BOTH engines identically, and any Spark-side miscount fails the
    // hash compare.
    "qf_ann_ivf_recall" -> ((s, _) => {
      import s.implicits._
      val qIds = Seq(0L, 7L, 42L, 101L, 333L)
      val emb = graft.ops.Similarity.synthEmbeddings(s, 2000L).cache()
      embInput.writeOnce(emb)
      val queries = emb.filter(col("vec_id").isin(qIds: _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val brute = graft.ops.Similarity.bruteForceTopK(emb, queries, 5)
        .select("query_id", "vec_id")
      val ivf = graft.ops.Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4)
        .select("query_id", "vec_id")
      val out = recallVsBrute(s, brute, ivf, qIds, ivfTopk)
        .as[(Long, Long)].collect() // materialize, then release the cache
      emb.unpersist()
      out.toSeq.toDF("query_id", "hits_of_5")
    }),

    // Similarity: LSH-bucketed ANN (the 10^12-scale path) + its recall
    // against the brute-force baseline over the DRIVER's embeddings
    // table. Oracle-checked via the soundness-fixture pattern: DuckDB
    // recomputes brute top-5 from the raw table and intersects with the
    // written LSH output.
    "qf_ann_lsh_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val brute = PipelineCache.bruteDriverTop5(s, d).select("query_id", "vec_id")
      val lsh = graft.ops.Similarity.lshTopK(emb, queries, 5, dim = 64)
        .select("query_id", "vec_id")
      recallVsBrute(s, brute, lsh, Seq(0L, 1L, 2L), lshTopk)
    }),

    // Similarity: IVF recall over the DRIVER's embeddings table (both
    // ANN scale paths driver-data-checked). The driver vectors are
    // near-uniform random — the regime where ANY coarse quantizer's
    // candidate recall degrades toward nprobe/nlist (see ivfTopK doc),
    // so low hits_of_5 here is the documented honest behavior, verified
    // exactly by the oracle; the clustered-corpus case is
    // qf_ann_ivf_recall.
    "qf_ann_ivf_driver" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val brute = PipelineCache.bruteDriverTop5(s, d).select("query_id", "vec_id")
      val ivf = graft.ops.Similarity.ivfTopK(emb, queries, 5, nlist = 16, nprobe = 4)
        .select("query_id", "vec_id")
      recallVsBrute(s, brute, ivf, Seq(0L, 1L, 2L), ivfDriverTopk)
    }),

    // Multimodal: real ImageIO decode + channel-mean feature extraction.
    // Oracle-checked in layers: qf_decode_fidelity verifies the decoded
    // pixels against the generator-truth stream; this query's oracle
    // then recomputes the per-channel means from the SAME decoded-pixel
    // fixture in DuckDB (unnest + channel stripes). Sums are exact
    // integers and every payload is 16×16 (payloadSide), so mean = sum
    // / 256 is exactly representable in IEEE double on both engines —
    // bit-equal without rounding.
    "qf_image_features" -> ((s, _) => {
      writePixelFixtures(s)
      val imgs = ImageGen.images(s, PipelineCache.genCfg(fidelityN).copy(withBytes = true))
      graft.ops.Multimodal.imageFeatures(imgs).toDF()
        .select(col("image_id"), col("decode_ok").cast("int").as("decode_ok"),
          col("width"), col("height"), col("mean_r"), col("mean_g"), col("mean_b"))
        .orderBy("image_id")
    }),

    // Multimodal: the north-rule decoded-pixel fidelity invariant as a
    // per-row oracle-checked query. Both sides join the decoded-pixel
    // fixture (real codec round-trip) against the generator-truth pixel
    // fixture (no codec) and compute integer SSE per row — Spark with
    // zip_with/aggregate, DuckDB with list dot products — then apply the
    // same exact-integer rule (see fidelityChannels doc): lossless ⇒
    // sse = 0, jpeg ⇒ well-formed 768-channel decode, sse recorded.
    "qf_decode_fidelity" -> ((s, _) => {
      writePixelFixtures(s)
      val dec = decodedPixels.read(s)
      val exp = expectedPixels.read(s)
        .withColumnRenamed("pixels", "exp_pixels")
      dec.join(exp, "image_id")
        .select(col("image_id"), col("fmt"),
          col("decode_ok").cast("int").as("decode_ok"),
          size(col("pixels")).as("n_px"),
          expr("""CASE WHEN size(pixels) = size(exp_pixels)
                 THEN aggregate(
                        zip_with(pixels, exp_pixels,
                          (a, b) -> CAST(a - b AS BIGINT) * CAST(a - b AS BIGINT)),
                        CAST(0 AS BIGINT), (acc, x) -> acc + x)
                 ELSE CAST(-1 AS BIGINT) END""").as("sse"))
        .withColumn("fidelity_ok",
          when(col("fmt") === "jpeg",
            col("decode_ok") === 1 && col("n_px") === fidelityChannels)
            .otherwise(col("sse") === 0L)
            .cast("int"))
        .orderBy("image_id")
    }),

    // Multimodal: perceptual hash computed from the actual pixels (the
    // input-side producer for the phash column PhashDup consumes).
    // Oracle-checked: the hash is a pure-integer spec (area-average
    // aHash, Multimodal.phashFromPixels), so DuckDB recomputes every
    // 64-bit value relationally from the decoded-pixel fixture — decode
    // itself is pinned to generator truth by qf_decode_fidelity, making
    // the whole bytes→phash chain independently verified.
    "qf_phash_compute" -> ((s, _) => {
      writePixelFixtures(s)
      val imgs = ImageGen.images(s, PipelineCache.genCfg(fidelityN).copy(withBytes = true))
      graft.ops.Multimodal.computePhash(imgs).toDF()
        .select(col("image_id"), col("phash"),
          col("decode_ok").cast("int").as("decode_ok"))
        .orderBy("image_id")
    }),

    // Multimodal: exact-integer area-average resize to an 8×8 feature
    // grid (renderer-independent — see Multimodal.resizePixelsScalar;
    // the Graphics2D + PNG re-encode byte path stays spec-tested in
    // OpsSpec). Oracle-checked: DuckDB recomputes every output channel
    // relationally from the decoded-pixel fixture, which
    // qf_decode_fidelity pins to generator truth.
    "qf_image_resize" -> ((s, _) => {
      writePixelFixtures(s)
      val imgs = ImageGen.images(s, PipelineCache.genCfg(fidelityN).copy(withBytes = true))
      graft.ops.Multimodal.resizePixels(imgs, 8, 8).toDF()
        .filter(col("decode_ok"))
        .select(col("image_id"), posexplode(col("pixels")).as(Seq("i", "v")))
        .groupBy(col("image_id"), floor(col("i") / 3).cast("long").as("cell"))
        .agg(max(when(col("i") % 3 === 0, col("v"))).as("r"),
          max(when(col("i") % 3 === 1, col("v"))).as("g"),
          max(when(col("i") % 3 === 2, col("v"))).as("b"))
        .orderBy("image_id", "cell")
    }),

    // Multimodal: REAL MJPEG demux + ImageIO frame decode
    // (Multimodal.videoFrames). Hash-checked two ways at once: the
    // frame extents (byte_off, n_bytes) come from the GENERATOR-TRUTH
    // demux fixture — the engine's segment-level JPEG parser must
    // rediscover every boundary from the bytes alone — and the phash is
    // recomputed relationally by DuckDB from the decoded frame pixels
    // (the qf_phash_compute pattern; the decode itself is pinned by the
    // PSNR spec in MediaCodecSpec).
    "qf_video_frames" -> ((s, _) => {
      writeVideoFixtures(s)
      graft.ops.Multimodal.videoFrames(
          graft.synth.MediaGen.videos(s, videoN), "video_id", "bytes",
          every = videoEvery).toDF()
        .filter(col("decode_ok"))
        .select(col("id"), col("frame_idx"), col("byte_off"),
          col("n_bytes"), col("w"), col("h"), col("phash"))
        .orderBy("id", "frame_idx")
    }),

    // Multimodal: REAL WAV decode through the JDK javax.sound codec
    // (Multimodal.audioRms). Hash-checked from the CONTAINER bytes:
    // DuckDB re-derives the fmt-chunk sample rate, every little-endian
    // int16 sample, and the windowed RMS from the exploded payload —
    // full independent verification of the codec path. The RMS doubles
    // meet bit-for-bit: Σs² of int16 samples is an exact integer below
    // 2^53, /256 a power-of-two scale, sqrt correctly rounded on both
    // engines.
    "qf_audio_rms" -> ((s, _) => {
      wavBytes.writeOnce(graft.ops.Multimodal.explodeBytes(
        graft.synth.MediaGen.audio(s, audioN), "audio_id", "bytes"))
      graft.ops.Multimodal.audioRms(
          graft.synth.MediaGen.audio(s, audioN), "audio_id", "bytes").toDF()
        .filter(col("decode_ok"))
        .select(col("id"), col("sample_rate"), col("n_samples"),
          posexplode(col("rms")).as(Seq("w", "rms")))
        .orderBy("id", "w")
    }),

    // §2.7: Structured Streaming as a driver-contract surface — a real
    // readStream micro-batch over a parquet shard running the SAME
    // scoring expressions (score parity with batch is spec-asserted),
    // watermarked tumbling-window drop-rate audit rows out.
    // Hash-checked via the fixture pattern: a second streaming sink
    // appends every scored row (ts, decision) to a parquet fixture and
    // the DuckDB oracle recomputes the tumbling-window counts from it
    // with plain epoch arithmetic — the window assignment and
    // aggregation halves are verified by an independent engine; the
    // decisions themselves are the one-sided (spec-tested) half, same
    // honesty label as qf_langid_counts. window_start is emitted as
    // epoch SECONDS (long) on both sides: comparing raw timestamps
    // would re-test the engines' timestamp codecs, not the windows.
    "qf_stream_window" -> ((s, _) => {
      // per-PROCESS scratch dir + per-invocation sink name: two
      // concurrent Verify runs must not collide on a fixed path/temp
      // view (the pid keeps them apart), while a second invocation in
      // the same process (the bench's pass-2 sweep) reuses the written
      // shard instead of re-writing and re-deleting it. Stale
      // siblings (crashed runs) are swept best-effort once clearly not
      // live — judged by the NEWEST mtime anywhere in the tree, not the
      // root mtime, which nested checkpoint/shard writes never touch
      // (same trap Scratch.cleanupOrphans documents).
      Option(new java.io.File("target").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("graft-qf-stream-") &&
          !f.getName.startsWith(s"graft-qf-stream-p${ProcessHandle.current().pid()}-") &&
          Scratch.newestMtime(f) <
            System.currentTimeMillis() - 30 * 60 * 1000L)
        .foreach(Scratch.deleteRecursively)
      val dir = s"target/graft-qf-stream-p${ProcessHandle.current().pid()}-shard"
      // a concurrent process's sweep may have deleted the shard since
      // this process wrote it: write it again then
      if (!graft.engine.TableIO.exists(s, dir)) Fixture.forget(dir)
      Fixture.once(dir) {
        // overwrite: a pid-reused leftover dir must not fail the write
        // or leak stale rows into the shard
        ImageGen.images(s, GenConfig(n = 500L, parts = 4))
          .withColumn("ts", timestamp_millis(lit(1700000000000L) +
            substring(col("image_id"), 4, 9).cast("long") * 1000))
          .write.mode("overwrite").parquet(dir)
      }
      val schema = s.read.parquet(dir).schema
      val models = PipelineCache.models(s, 500L)
      val stream = s.readStream.schema(schema).parquet(dir)
      val scored = graft.streaming.StreamScore.scoreStream(stream, models, 0.5)
      // the fixture stream is 500 rows across 9 tumbling windows —
      // 32 streaming state-store partitions (the session default sized
      // for the batch queries) each pay per-micro-batch delta+commit
      // file I/O for a handful of keys. Scope the stream's shuffle
      // partitioning to the shard's own parallelism (4) for the two
      // .start() calls below; restored in the finally, and batch
      // queries are unaffected (the bench runs queries sequentially). A
      // production stream would size state partitions to key
      // cardinality the same way.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      try {
        s.conf.set("spark.sql.shuffle.partitions", "4")
        // per-row audit sink → the oracle's window-recompute fixture.
        // once: the sink appends, so a second invocation in the same
        // process must reuse the fixture, not re-append to it.
        streamRows.once {
          Scratch.deleteRecursively(new java.io.File(streamRows.path))
          // a pid-reused stale checkpoint would mark the shard already
          // processed and leave the fixture empty — always start fresh
          Scratch.deleteRecursively(new java.io.File(s"$dir-rows-ckpt"))
          val qRows = scored.select(col("image_id"), col("ts"), col("decision"))
            .writeStream.format("parquet")
            .option("path", streamRows.path)
            .option("checkpointLocation", s"$dir-rows-ckpt")
            .outputMode("append").start()
          qRows.processAllAvailable(); qRows.stop()
        }
        val agg = graft.streaming.StreamScore.windowedDropRate(scored, "ts")
        val sink = s"qf_stream_window_sink_${java.util.UUID.randomUUID().toString.take(8)}"
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        q.processAllAvailable(); q.stop()
        // materialize the tiny window table (one row per tumbling
        // window) eagerly so the memory sink can be dropped HERE —
        // returning a lazy plan over it would pin the temp view's rows
        // in driver memory for the whole session
        val out = s.table(sink)
          .select(unix_timestamp(col("window_start")).as("window_start"),
            col("rows_in"), col("rows_dropped"))
          .orderBy("window_start")
        val rows = out.collect()
        val local = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema)
        s.catalog.dropTempView(sink): Unit
        local
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }),

    // M9–M13: cluster the faulty rows + per-cluster decision-tree rules.
    // Hash-checked: DuckDB rebuilds every rendered rule STRING from the
    // conjunct fixture (printf %.4f + string_agg in conjunct order + the
    // IF/THEN frame) — the rendering itself is now engine-verified; the
    // tree FIT stays model-driven, its leaf structure and support counts
    // verified by qf_cluster_rule_support.
    "qf_cluster_rules" -> ((s, _) => {
      writeClusterRuleFixtures(s)
      clusterRules.read(s)
        .select("cluster_id", "rule")
        .orderBy("cluster_id", "rule")
    }),

    // Model-path verification: re-evaluate every cluster rule against
    // the labeled rows its tree was trained on and count matches and
    // invalid-labeled matches per rule, RELATIONALLY (unpivot the score
    // columns, join the conjunct table, anti-join unsatisfied rows) so
    // DuckDB can recompute the identical counts from the same fixtures.
    // Because one tree's leaves partition the feature space, each
    // cluster's n_match must sum to its labeled row count — asserted in
    // ExplainSpec; here every count is hash-compared engine-vs-oracle.
    "qf_cluster_rule_support" -> ((s, _) => {
      writeClusterRuleFixtures(s)
      val rows = clusterLabeled.read(s)
      val rules = clusterRules.read(s)
      val conj = clusterConjuncts.read(s)
      val unpiv = rows.select(col("cluster_id"), col("image_id"), col("label"),
        explode(map(PipelineCache.scoreNames.flatMap(n =>
          Seq(lit(n), col(n))): _*)).as(Seq("feature", "value")))
      val unsat = unpiv.join(conj, Seq("cluster_id", "feature"))
        .filter(!when(col("op") === "<=", col("value") <= col("threshold"))
          .otherwise(col("value") > col("threshold")))
        .select("cluster_id", "rule_id", "image_id").distinct()
      val pairs = rules.select("cluster_id", "rule_id")
        .join(rows.select("cluster_id", "image_id", "label"), Seq("cluster_id"))
      val counts = pairs
        .join(unsat, Seq("cluster_id", "rule_id", "image_id"), "left_anti")
        .groupBy("cluster_id", "rule_id")
        .agg(count(lit(1)).as("n_match"),
          sum(col("label")).cast("bigint").as("n_invalid"))
      rules.select("cluster_id", "rule_id", "verdict")
        .join(counts, Seq("cluster_id", "rule_id"), "left")
        .select(col("cluster_id"), col("rule_id"), col("verdict"),
          coalesce(col("n_match"), lit(0L)).as("n_match"),
          coalesce(col("n_invalid"), lit(0L)).as("n_invalid"))
        .orderBy("cluster_id", "rule_id")
    }),

    // M9 SOM: map every faulty row to its best-matching grid cell of
    // the trained batch-SOM codebook. The engine's BMU is a Catalyst
    // HOF expression over the codebook written to the fixture; the
    // oracle recomputes every squared distance in the same feature
    // order (left-to-right sum — bit-identical IEEE fold) and applies
    // the same first-min tie rule (ORDER BY dist, unit).
    "qf_som_assign" -> ((s, _) => {
      writeSomFixtures(s)
      val feats = somFeatures.read(s)
      val dim = PipelineCache.scoreNames.size
      val cb = somCodebook.read(s).orderBy("unit").collect()
      val weights = cb.map(r =>
        Array.tabulate(dim)(i => r.getDouble(r.fieldIndex(s"w_$i"))))
      val model = graft.explain.SomClustering.SomModel(5, 5, dim, weights)
      graft.explain.SomClustering.assign(
          feats, "image_id", PipelineCache.scoreNames, model)
        .orderBy("image_id")
    })
  )

  /** The frozen scrub chain as nested DuckDB REGEXP_REPLACE calls over
    * `captionExpr` (shared by the qf_scrub_equality and qf_decisions
    * oracles). */
  private def scrubChainSql(captionExpr: String): String =
    graft.scrub.Scrub.rules.foldLeft(captionExpr) {
      case (acc, (_, pat, rep)) =>
        val p = pat.replace("'", "''")
        s"REGEXP_REPLACE($acc, '$p', '$rep', 'g')"
    }

  /** DuckDB oracles for the SQL-expressible pipeline queries. Each reads
    * its inputs through [[Fixture.sql]], so the paths are the ones the
    * Verify process wrote under the current [[Fixture.root]]. */
  def oracleSql: Map[String, String] = {
    // Shared SQL shape for the ANN recall oracles: brute-force top-5 by
    // (cos DESC, vec_id) recomputed from raw vectors, intersected with
    // the engine's written top-k fixture, zero-hit queries kept.
    def annRecallSql(source: String, queryFilter: String, querySet: String,
        fixture: Fixture): String =
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
         |           FROM $source WHERE $queryFilter),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $source),
         |c AS (SELECT q.query_id, e.vec_id,
         |  CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec)) > 0
         |       THEN list_dot_product(v, qvec)
         |            / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec)))
         |       ELSE -1.0 END AS cos
         |  FROM e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
         |  FROM c),
         |b AS (SELECT query_id, vec_id FROM r WHERE rk <= 5),
         |f AS (SELECT DISTINCT query_id, vec_id FROM ${fixture.sql}),
         |h AS (SELECT b.query_id, COUNT(*) AS n
         |      FROM b JOIN f ON f.query_id = b.query_id AND f.vec_id = b.vec_id
         |      GROUP BY b.query_id),
         |qs AS ($querySet)
         |SELECT qs.query_id, COALESCE(h.n, 0) AS hits_of_5
         |FROM qs LEFT JOIN h ON h.query_id = qs.query_id
         |ORDER BY qs.query_id""".stripMargin
    Map(
      "qf_ann_lsh_recall" -> annRecallSql("embeddings", "vec_id < 3",
        "SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 3", lshTopk),
      "qf_ann_ivf_recall" -> annRecallSql(embInput.sql,
        "vec_id IN (0, 7, 42, 101, 333)",
        "SELECT CAST(UNNEST([0, 7, 42, 101, 333]) AS BIGINT) AS query_id", ivfTopk),
      "qf_ann_ivf_driver" -> annRecallSql("embeddings", "vec_id < 3",
        "SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 3", ivfDriverTopk),
      // Recompute tp/fp/fn/f1 from the written decisions against the
      // generator's expected labels (SUMs cast to BIGINT — DuckDB SUM is
      // HUGEINT; f1 arithmetic mirrors Metrics.f1's op order exactly).
      "qf_f1" -> {
        s"""WITH c AS (
           |  SELECT
           |    CAST(SUM(CASE WHEN d.decision = 'drop' AND x.expected_decision = 'drop'
           |             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(SUM(CASE WHEN d.decision = 'drop' AND x.expected_decision = 'keep'
           |             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(SUM(CASE WHEN d.decision = 'keep' AND x.expected_decision = 'drop'
           |             THEN 1 ELSE 0 END) AS BIGINT) AS fn
           |  FROM ${decisionsOut.sql} d
           |  JOIN ${expectedInput.sql} x ON x.image_id = d.image_id),
           |pr AS (
           |  SELECT tp, fp, fn,
           |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p,
           |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r
           |  FROM c)
           |SELECT tp, fp, fn,
           |  CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END AS f1
           |FROM pr""".stripMargin
      },
      // Recompute the per-language counts from the written predictions.
      "qf_langid_counts" -> {
        s"""SELECT pred_lang, CAST(COUNT(*) AS BIGINT) AS n
           |FROM ${langidOut.sql}
           |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin
      },
      // Per-row decision stream + independently recomputed scrub: the
      // oracle re-emits each written (image_id, decision) and re-runs
      // the frozen scrub chain over the RAW caption per row — any
      // divergence between the live query and its fixture, or between
      // Spark's and DuckDB's regex chains, fails the hash compare.
      "qf_decisions" -> {
        s"""SELECT d.image_id, d.decision,
           |  ${scrubChainSql("c.caption")} AS scrubbed_caption
           |FROM ${decisionsOut.sql} d
           |JOIN ${captionInput.sql} c ON c.image_id = d.image_id
           |ORDER BY d.image_id""".stripMargin
      },
      // Recompute the full per-round metrics history from the loop's
      // per-row audit fixtures with the Evaluation.py:6-30 formulas
      // (Metrics.scala op-order parity; everything rounded to 9dp on
      // both sides — TPGR goes through pow(), see the query doc).
      "qf_metrics_loop" -> {
        val audit = Fixture.readParquet(s"${PipelineLoop.loopDir}/audit/*/*.parquet")
        s"""WITH c AS (
           |  SELECT run,
           |    CAST(SUM(CASE WHEN is_susp THEN 1 ELSE 0 END) AS BIGINT) AS faulty,
           |    CAST(SUM(CASE WHEN is_susp AND is_known THEN 1 ELSE 0 END) AS BIGINT) AS einter,
           |    CAST(SUM(CASE WHEN status_new LIKE 'actualFault%' THEN 1 ELSE 0 END) AS BIGINT) AS afnew,
           |    CAST(SUM(CASE WHEN status_old LIKE 'actualFault%' THEN 1 ELSE 0 END) AS BIGINT) AS afold,
           |    CAST(SUM(CASE WHEN status_old LIKE 'actualFault%'
           |             AND status_new NOT LIKE 'actualFault%' THEN 1 ELSE 0 END) AS BIGINT) AS afoldminusnew,
           |    CAST(SUM(CASE WHEN status_new LIKE 'actualFault%'
           |             AND NOT is_known THEN 1 ELSE 0 END) AS BIGINT) AS afminuse,
           |    CAST(SUM(CASE WHEN is_known THEN 1 ELSE 0 END) AS BIGINT) AS ecount
           |  FROM $audit GROUP BY run),
           |m AS (
           |  SELECT run,
           |    CASE WHEN ecount > 0 THEN CAST(einter AS DOUBLE) / ecount ELSE 0.0 END AS pd,
           |    CASE WHEN faulty > 0 THEN CAST(faulty - einter AS DOUBLE) / faulty ELSE 0.0 END AS sd,
           |    CASE WHEN ecount > 0 THEN CAST(ecount - einter AS DOUBLE) / ecount ELSE 1.0 END AS ud,
           |    CASE WHEN faulty > 0 THEN CAST(afminuse AS DOUBLE) / faulty ELSE 0.0 END AS nd,
           |    CASE WHEN afnew > 0 AND faulty > 0
           |         THEN CAST(afnew AS DOUBLE) / faulty ELSE 0.0 END AS tpr,
           |    CASE WHEN afold > 0 THEN CAST(afoldminusnew AS DOUBLE) / afold ELSE 0.0 END AS fnr
           |  FROM c),
           |t AS (SELECT m.*, FIRST_VALUE(tpr) OVER (ORDER BY run) AS tpr1 FROM m)
           |SELECT run,
           |  ROUND(pd, 9) AS "previouslyDetected",
           |  ROUND(sd, 9) AS "suspiciousDetected",
           |  ROUND(ud, 9) AS "undetected",
           |  ROUND(nd, 9) AS "newlyDetected",
           |  ROUND(tpr, 9) AS "truePositiveRate",
           |  ROUND(1.0 - tpr, 9) AS "falsePositiveRate",
           |  ROUND(1.0 - fnr, 9) AS "trueNegativeRate",
           |  ROUND(fnr, 9) AS "falseNegativeRate",
           |  ROUND(CASE WHEN tpr1 <= 0 THEN 0.0
           |        ELSE POWER(tpr / tpr1, 1.0 / run) - 1.0 END, 9) AS tpgr
           |FROM t ORDER BY run""".stripMargin
      },
      // Recompute the streaming query's tumbling 1-minute windows from
      // the per-row audit fixture with plain epoch arithmetic (window
      // start = floor(epoch/60)*60; complete-mode output carries every
      // row, so no watermark-drop asymmetry exists between the sides).
      "qf_stream_window" -> {
        s"""SELECT CAST(FLOOR(EPOCH(ts) / 60) * 60 AS BIGINT) AS window_start,
           |  CAST(COUNT(*) AS BIGINT) AS rows_in,
           |  CAST(SUM(CASE WHEN decision = 'drop' THEN 1 ELSE 0 END) AS BIGINT)
           |    AS rows_dropped
           |FROM ${streamRows.sql}
           |GROUP BY 1 ORDER BY 1""".stripMargin
      },
      // Re-run the frozen scrub chain over the raw captions in SQL and
      // compare with the generator's expected scrubs, per fault class.
      // Decoded-pixel fidelity: DuckDB recomputes per-row integer SSE
      // between the codec-round-trip pixels and the generator-truth
      // pixels via list dot products (exact in double up to 2^53), then
      // applies the same exact-integer rule as Spark: lossless ⇒ sse = 0,
      // jpeg ⇒ well-formed 768-channel decode (see fidelityChannels).
      "qf_decode_fidelity" ->
        s"""WITH j AS (SELECT d.image_id, d.fmt, d.decode_ok,
           |    CAST(d.pixels AS DOUBLE[]) AS p, CAST(e.pixels AS DOUBLE[]) AS q,
           |    len(d.pixels) AS nd, len(e.pixels) AS ne
           |  FROM ${decodedPixels.sql} d
           |  JOIN ${expectedPixels.sql} e ON d.image_id = e.image_id),
           |c AS (SELECT image_id, fmt, CAST(decode_ok AS INTEGER) AS decode_ok,
           |    CAST(nd AS INTEGER) AS n_px,
           |    CASE WHEN nd = ne
           |         THEN CAST(list_dot_product(p, p) - 2 * list_dot_product(p, q)
           |                   + list_dot_product(q, q) AS BIGINT)
           |         ELSE CAST(-1 AS BIGINT) END AS sse
           |  FROM j)
           |SELECT image_id, fmt, decode_ok, n_px, sse,
           |  CAST(CASE WHEN fmt = 'jpeg'
           |            THEN (decode_ok = 1 AND n_px = ${fidelityChannels})
           |       ELSE (sse = 0) END AS INTEGER) AS fidelity_ok
           |FROM c ORDER BY image_id""".stripMargin,
      // Image features: recompute the per-channel means from the
      // decoded-pixel fixture (pixels flattened r,g,b per pixel; every
      // payload is square 16×16, so w = h = sqrt(len/3)). Sums are
      // exact integers and 256 is a power of two, so sum/256 is exact
      // in double on both engines — no rounding needed.
      "qf_image_features" ->
        s"""WITH u AS (SELECT image_id,
           |    unnest(pixels) AS v, generate_subscripts(pixels, 1) AS i
           |  FROM ${decodedPixels.sql}),
           |m AS (SELECT image_id,
           |    SUM(CASE WHEN (i - 1) % 3 = 0 THEN v END)
           |      / (COUNT(*) / 3) AS mean_r,
           |    SUM(CASE WHEN (i - 1) % 3 = 1 THEN v END)
           |      / (COUNT(*) / 3) AS mean_g,
           |    SUM(CASE WHEN (i - 1) % 3 = 2 THEN v END)
           |      / (COUNT(*) / 3) AS mean_b,
           |    CAST(round(sqrt(COUNT(*) / 3)) AS INTEGER) AS side
           |  FROM u GROUP BY image_id)
           |SELECT d.image_id, CAST(d.decode_ok AS INTEGER) AS decode_ok,
           |  CASE WHEN d.decode_ok THEN m.side ELSE 0 END AS width,
           |  CASE WHEN d.decode_ok THEN m.side ELSE 0 END AS height,
           |  COALESCE(m.mean_r, 0.0) AS mean_r,
           |  COALESCE(m.mean_g, 0.0) AS mean_g,
           |  COALESCE(m.mean_b, 0.0) AS mean_b
           |FROM ${decodedPixels.sql} d LEFT JOIN m USING (image_id)
           |ORDER BY d.image_id""".stripMargin,
      // Perceptual hash: recompute the full 64-bit aHash from the
      // decoded-pixel fixture with the same exact-integer spec — luma
      // ⌊(299r+587g+114b)/1000⌋ per source pixel, 8×8 area-average
      // cells via floor(x*8/w), per-cell ⌊Σ/count⌋, threshold at
      // ⌊Σgray/64⌋, bit i per row-major cell (bit 63 = signed min to
      // stay in BIGINT). Payloads are square (side = sqrt(len/3), same
      // derivation as qf_image_features); failed decodes hash to 0.
      "qf_phash_compute" ->
        s"""WITH d AS (SELECT image_id,
           |    CAST(decode_ok AS INTEGER) AS decode_ok, pixels,
           |    CAST(round(sqrt(len(pixels) / 3)) AS BIGINT) AS side
           |  FROM ${decodedPixels.sql}),
           |u AS (SELECT image_id, side, unnest(pixels) AS v,
           |    generate_subscripts(pixels, 1) AS i FROM d),
           |px AS (SELECT image_id, side, (i - 1) // 3 AS pi,
           |    SUM(CASE WHEN (i - 1) % 3 = 0 THEN 299 * v
           |             WHEN (i - 1) % 3 = 1 THEN 587 * v
           |             ELSE 114 * v END) // 1000 AS luma
           |  FROM u GROUP BY 1, 2, 3),
           |cv AS (SELECT image_id,
           |    ((pi // side) * 8 // side) * 8 + ((pi % side) * 8 // side) AS cell,
           |    SUM(luma) // COUNT(*) AS gray
           |  FROM px GROUP BY 1, 2),
           |mn AS (SELECT image_id, SUM(gray) // 64 AS mean FROM cv GROUP BY 1),
           |ph AS (SELECT c.image_id,
           |    CAST(SUM(CASE WHEN c.gray > m.mean THEN
           |        CASE WHEN c.cell = 63 THEN -9223372036854775807 - 1
           |             ELSE (CAST(1 AS BIGINT) << CAST(c.cell AS INTEGER)) END
           |      ELSE 0 END) AS BIGINT) AS phash
           |  FROM cv c JOIN mn m USING (image_id) GROUP BY 1)
           |SELECT d.image_id, CAST(COALESCE(ph.phash, 0) AS BIGINT) AS phash,
           |  d.decode_ok
           |FROM d LEFT JOIN ph USING (image_id)
           |ORDER BY d.image_id""".stripMargin,
      // Exact-integer resize: recompute every 8×8 output channel from
      // the decoded-pixel fixture — pixel (i-1)//3 lands in cell
      // (y*8//side)*8 + (x*8//side), per-cell per-channel ⌊Σ/count⌋
      // (same area-average spec as Multimodal.resizePixelsScalar).
      // The grid CTE emits EVERY 8×8 output cell per decoded image and
      // LEFT JOINs the source-pixel averages: resizePixelsScalar zero-
      // fills cells no source pixel maps to (possible when upscaling),
      // so the oracle must emit those cells as 0 too, not omit them.
      "qf_image_resize" ->
        s"""WITH d AS (SELECT image_id, pixels,
           |    CAST(round(sqrt(len(pixels) / 3)) AS BIGINT) AS side
           |  FROM ${decodedPixels.sql} WHERE decode_ok),
           |u AS (SELECT image_id, side, unnest(pixels) AS v,
           |    generate_subscripts(pixels, 1) AS i FROM d),
           |cv AS (SELECT image_id,
           |    ((i - 1) // 3 // side * 8 // side) * 8
           |      + ((i - 1) // 3 % side * 8 // side) AS cell,
           |    (i - 1) % 3 AS ch,
           |    SUM(v) // COUNT(*) AS avg
           |  FROM u GROUP BY 1, 2, 3),
           |grid AS (SELECT d.image_id, gs.cell
           |  FROM d, (SELECT UNNEST(range(0, 64)) AS cell) gs)
           |SELECT gr.image_id, CAST(gr.cell AS BIGINT) AS cell,
           |  CAST(COALESCE(MAX(CASE WHEN ch = 0 THEN avg END), 0) AS INTEGER) AS r,
           |  CAST(COALESCE(MAX(CASE WHEN ch = 1 THEN avg END), 0) AS INTEGER) AS g,
           |  CAST(COALESCE(MAX(CASE WHEN ch = 2 THEN avg END), 0) AS INTEGER) AS b
           |FROM grid gr LEFT JOIN cv
           |  ON cv.image_id = gr.image_id AND cv.cell = gr.cell
           |GROUP BY gr.image_id, gr.cell
           |ORDER BY gr.image_id, gr.cell""".stripMargin,
      // Cluster-rule support: DuckDB re-evaluates every structured rule
      // (conjunct table, full-precision thresholds — no arithmetic, only
      // comparisons on identical parquet doubles) against the labeled
      // training rows and recomputes each rule's match/invalid counts.
      "qf_cluster_rule_support" -> {
        val stripes = PipelineCache.scoreNames.map(n =>
          s"SELECT cluster_id, image_id, label, '$n' AS feature, $n AS value FROM rows_")
          .mkString("\n  UNION ALL ")
        s"""WITH rows_ AS (SELECT * FROM ${clusterLabeled.sql}),
           |u AS (
           |  $stripes),
           |unsat AS (SELECT DISTINCT c.cluster_id, c.rule_id, u.image_id
           |  FROM ${clusterConjuncts.sql} c
           |  JOIN u ON u.cluster_id = c.cluster_id AND u.feature = c.feature
           |  WHERE NOT (CASE WHEN c.op = '<=' THEN u.value <= c.threshold
           |                  ELSE u.value > c.threshold END)),
           |pairs AS (SELECT r.cluster_id, r.rule_id, w.image_id, w.label
           |  FROM ${clusterRules.sql} r JOIN rows_ w USING (cluster_id)),
           |m AS (SELECT p.* FROM pairs p LEFT JOIN unsat s
           |      ON s.cluster_id = p.cluster_id AND s.rule_id = p.rule_id
           |         AND s.image_id = p.image_id
           |      WHERE s.image_id IS NULL),
           |c AS (SELECT cluster_id, rule_id,
           |      CAST(COUNT(*) AS BIGINT) AS n_match,
           |      CAST(SUM(label) AS BIGINT) AS n_invalid
           |      FROM m GROUP BY cluster_id, rule_id)
           |SELECT r.cluster_id, r.rule_id, r.verdict,
           |  CAST(COALESCE(c.n_match, 0) AS BIGINT) AS n_match,
           |  CAST(COALESCE(c.n_invalid, 0) AS BIGINT) AS n_invalid
           |FROM ${clusterRules.sql} r LEFT JOIN c USING (cluster_id, rule_id)
           |ORDER BY r.cluster_id, r.rule_id""".stripMargin
      },
      // Re-derive every SOM BMU from the codebook fixture: squared
      // distance summed in feature order (matches the engine's
      // left-to-right HOF fold bit-for-bit — the fold's 0.0+d0 seed is
      // exact for non-negative squares), first-min tie on unit index.
      "qf_som_assign" -> {
        val dist = PipelineCache.scoreNames.zipWithIndex.map {
          case (c, i) => s"(f.$c - c.w_$i) * (f.$c - c.w_$i)"
        }.mkString(" + ")
        s"""WITH d AS (
           |  SELECT f.image_id, c.unit, $dist AS dist
           |  FROM ${somFeatures.sql} f CROSS JOIN ${somCodebook.sql} c),
           |b AS (SELECT image_id, unit,
           |  row_number() OVER (PARTITION BY image_id ORDER BY dist, unit) AS rn
           |  FROM d)
           |SELECT image_id, CAST(unit AS INT) AS bmu_unit,
           |  CAST(unit // 5 AS INT) AS bmu_row, CAST(unit % 5 AS INT) AS bmu_col
           |FROM b WHERE rn = 1 ORDER BY image_id""".stripMargin
      },
      // Rebuild every rendered rule STRING from the conjunct fixture:
      // printf('%.4f') and Scala's f"%.4f" cannot disagree because no
      // binary double lands exactly on a 1e-4 decimal tie (5e-5 has a
      // factor-5 denominator), so HALF_UP vs round-half-even is moot;
      // string_agg ORDER BY conj_id reproduces the root-first conjunct
      // order, and a conjunct-free leaf renders 'always'.
      "qf_cluster_rules" ->
        s"""WITH cond AS (
           |  SELECT cluster_id, rule_id,
           |    string_agg(printf('%s %s %.4f', feature, op, threshold),
           |               ' AND ' ORDER BY conj_id) AS cond
           |  FROM ${clusterConjuncts.sql} GROUP BY cluster_id, rule_id)
           |SELECT r.cluster_id,
           |  'IF ' || COALESCE(c.cond, 'always') || ' THEN ' || r.verdict AS rule
           |FROM ${clusterRules.sql} r
           |LEFT JOIN cond c ON c.cluster_id = r.cluster_id
           |                AND c.rule_id = r.rule_id
           |ORDER BY r.cluster_id, rule""".stripMargin,
      // Real MJPEG path: frame extents from the GENERATOR-TRUTH demux
      // fixture (the engine's segment parser must rediscover them from
      // bytes alone), dims + phash recomputed relationally from the
      // decoded frame pixels (exact aHash spec, same arithmetic as the
      // qf_phash_compute oracle).
      "qf_video_frames" ->
        s"""WITH d AS (SELECT video_id, frame_idx, pixels,
           |    CAST(round(sqrt(len(pixels) / 3)) AS BIGINT) AS side
           |  FROM ${framePixels.sql}),
           |u AS (SELECT video_id, frame_idx, side, unnest(pixels) AS v,
           |    generate_subscripts(pixels, 1) AS i FROM d),
           |px AS (SELECT video_id, frame_idx, side, (i - 1) // 3 AS pi,
           |    SUM(CASE WHEN (i - 1) % 3 = 0 THEN 299 * v
           |             WHEN (i - 1) % 3 = 1 THEN 587 * v
           |             ELSE 114 * v END) // 1000 AS luma
           |  FROM u GROUP BY 1, 2, 3, 4),
           |cv AS (SELECT video_id, frame_idx,
           |    ((pi // side) * 8 // side) * 8 + ((pi % side) * 8 // side) AS cell,
           |    SUM(luma) // COUNT(*) AS gray
           |  FROM px GROUP BY 1, 2, 3),
           |mn AS (SELECT video_id, frame_idx, SUM(gray) // 64 AS mean
           |  FROM cv GROUP BY 1, 2),
           |ph AS (SELECT c.video_id, c.frame_idx,
           |    CAST(SUM(CASE WHEN c.gray > m.mean THEN
           |        CASE WHEN c.cell = 63 THEN -9223372036854775807 - 1
           |             ELSE (CAST(1 AS BIGINT) << CAST(c.cell AS INTEGER)) END
           |      ELSE 0 END) AS BIGINT) AS phash
           |  FROM cv c JOIN mn m USING (video_id, frame_idx) GROUP BY 1, 2)
           |SELECT x.video_id AS id, x.frame_idx, x.byte_off, x.n_bytes,
           |  CAST(d.side AS INT) AS w, CAST(d.side AS INT) AS h, ph.phash
           |FROM ${expectedFrames.sql} x
           |JOIN d ON d.video_id = x.video_id AND d.frame_idx = x.frame_idx
           |JOIN ph ON ph.video_id = x.video_id AND ph.frame_idx = x.frame_idx
           |WHERE x.frame_idx % $videoEvery = 0
           |ORDER BY id, x.frame_idx""".stripMargin,
      // Real WAV path: DuckDB re-derives the fmt-chunk sample rate
      // (bytes 24-27, LE u32), every little-endian int16 sample from
      // the data chunk (canonical generator layout: data at offset 44;
      // sample = signed-high-byte * 256 + unsigned-low-byte), and the
      // windowed RMS — Σs² stays an exact integer, /256.0 a
      // power-of-two scale, sqrt correctly rounded: bit-identical
      // doubles on both engines.
      "qf_audio_rms" ->
        s"""WITH b AS (SELECT id, i, v, (v + 256) % 256 AS u
           |  FROM ${wavBytes.sql}),
           |hdr AS (SELECT id,
           |    CAST(SUM(CASE WHEN i = 24 THEN u WHEN i = 25 THEN u * 256
           |                  WHEN i = 26 THEN u * 65536
           |                  WHEN i = 27 THEN u * 16777216
           |                  ELSE 0 END) AS INT) AS sample_rate,
           |    CAST((COUNT(*) - 44) // 2 AS INT) AS n_samples
           |  FROM b GROUP BY id),
           |smp AS (SELECT lo.id, (lo.i - 44) // 2 AS s,
           |    CAST(hi.v AS BIGINT) * 256 + lo.u AS sample
           |  FROM b lo JOIN b hi ON hi.id = lo.id AND hi.i = lo.i + 1
           |  WHERE lo.i >= 44 AND (lo.i - 44) % 2 = 0),
           |win AS (SELECT id, CAST(s // 256 AS INT) AS w,
           |    sqrt(CAST(SUM(sample * sample) AS DOUBLE) / 256.0) AS rms,
           |    COUNT(*) AS cnt
           |  FROM smp GROUP BY id, s // 256)
           |SELECT win.id, hdr.sample_rate, hdr.n_samples, win.w, win.rms
           |FROM win JOIN hdr ON hdr.id = win.id
           |WHERE win.cnt = 256
           |ORDER BY win.id, win.w""".stripMargin,
      "qf_scrub_equality" -> {
        val chain = scrubChainSql("c.caption")
        s"""SELECT x.fault_class,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN $chain = x.expected_scrub THEN 1 ELSE 0 END)
           |       AS BIGINT) AS n_exact
           |FROM ${captionInput.sql} c
           |JOIN ${expectedInput.sql} x ON x.image_id = c.image_id
           |GROUP BY x.fault_class ORDER BY x.fault_class""".stripMargin
      },
      "qf_dedup_emb_clusters" ->
        s"""WITH RECURSIVE pr AS (
           |  SELECT id1, id2 FROM ${embClusterPairs.sql}),
           |e AS (SELECT id1 AS a, id2 AS b FROM pr
           |      UNION SELECT id2, id1 FROM pr),
           |reach(a, b) AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
           |SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
           |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,
      // Driver-table variant: the emitted pairs are first SOUNDNESS-
      // checked (exact cosine recomputed from the raw embeddings table,
      // threshold on the 4dp-rounded value) and the closure is then
      // rebuilt over only the surviving pairs — an unsound emitted pair
      // would perturb the closure and fail the hash compare.
      "qf_dedup_emb_clusters_driver" ->
        s"""WITH RECURSIVE pr0 AS (
           |  SELECT id1, id2 FROM ${embDriverPairs.sql}),
           |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |       FROM embeddings),
           |pr AS (
           |  SELECT p.id1, p.id2 FROM pr0 p
           |  JOIN ev a ON a.vec_id = p.id1
           |  JOIN ev b ON b.vec_id = p.id2
           |  WHERE ROUND(list_dot_product(a.v, b.v)
           |      / (sqrt(list_dot_product(a.v, a.v))
           |         * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.40),
           |e AS (SELECT id1 AS a, id2 AS b FROM pr
           |      UNION SELECT id2, id1 FROM pr),
           |reach(a, b) AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
           |SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
           |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,
      // SOUNDNESS oracle (one-sided, see the minhashPairs fixture doc):
      // recompute exact Jaccard from raw captions for each emitted pair,
      // re-apply >= 0.8. Every emitted pair must survive with the same
      // jaccard value; recall is covered by OpsSpec's seeded gate.
      "qf_dedup_minhash" ->
        s"""WITH d AS (
           |  SELECT image_id AS id,
           |         string_split_regex(trim(lower(caption)), '\\s+') AS toks
           |  FROM ${captionInput.sql}),
           |sh AS (
           |  SELECT id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
           |  FROM d, UNNEST(RANGE(1, len(toks) - 1)) AS r(i)
           |  WHERE len(toks) >= 3),
           |ds AS (SELECT DISTINCT id, s FROM sh),
           |sets AS (SELECT id, COUNT(*) AS n FROM ds GROUP BY id),
           |pr AS (SELECT id1, id2 FROM ${minhashPairs.sql}),
           |inter AS (
           |  SELECT p.id1, p.id2, COUNT(*) AS c
           |  FROM pr p
           |  JOIN ds x ON x.id = p.id1
           |  JOIN ds y ON y.id = p.id2 AND y.s = x.s
           |  GROUP BY p.id1, p.id2)
           |SELECT i.id1, i.id2,
           |  CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) AS jaccard
           |FROM inter i
           |JOIN sets na ON na.id = i.id1
           |JOIN sets nb ON nb.id = i.id2
           |WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) >= 0.8
           |ORDER BY id1, id2""".stripMargin,
      // SOUNDNESS oracle: recompute exact cosine from the raw vectors
      // for each emitted pair; the threshold is applied to the
      // 4dp-ROUNDED cosine, mirroring the Spark side exactly (see the
      // query doc — the boundary decision is made on identical values).
      "qf_dedup_embedding" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |           FROM ${embInput.sql}),
           |pr AS (SELECT id1, id2 FROM ${embPairs.sql}),
           |c AS (
           |  SELECT p.id1, p.id2,
           |    ROUND(list_dot_product(a.v, b.v)
           |      / (sqrt(list_dot_product(a.v, a.v))
           |         * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
           |  FROM pr p
           |  JOIN e a ON a.vec_id = p.id1
           |  JOIN e b ON b.vec_id = p.id2)
           |SELECT id1, id2, cos
           |FROM c WHERE cos >= 0.97 ORDER BY id1, id2""".stripMargin,
      // Recomputes Dedup.ngramJaccardPairs from raw captions: 3-shingles
      // over whitespace-split lower(trim(caption)); candidates = pairs
      // sharing a distinct shingle from the first 32 positions with BOTH
      // ids in the shingle's first `maxDf`=256 by id (the run-scan cap);
      // verify = exact Jaccard over distinct shingle sets >= 0.8.
      "qf_dedup_ngram" ->
        s"""WITH d AS (
           |  SELECT image_id AS id,
           |         string_split_regex(trim(lower(caption)), '\\s+') AS toks
           |  FROM ${captionInput.sql}),
           |sh AS (
           |  SELECT id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
           |  FROM d, UNNEST(RANGE(1, len(toks) - 1)) AS r(i)
           |  WHERE len(toks) >= 3),
           |sets AS (SELECT id, COUNT(DISTINCT s) AS n FROM sh GROUP BY id),
           |band AS (SELECT DISTINCT id, s FROM sh WHERE i <= 32),
           |ranked AS (
           |  SELECT id, s, ROW_NUMBER() OVER (PARTITION BY s ORDER BY id) AS rn
           |  FROM band),
           |cand AS (
           |  SELECT DISTINCT a.id AS id1, b.id AS id2
           |  FROM ranked a JOIN ranked b ON a.s = b.s AND a.id < b.id
           |  WHERE a.rn <= 256 AND b.rn <= 256),
           |ds AS (SELECT DISTINCT id, s FROM sh),
           |inter AS (
           |  SELECT c.id1, c.id2, COUNT(*) AS c
           |  FROM cand c
           |  JOIN ds x ON x.id = c.id1
           |  JOIN ds y ON y.id = c.id2 AND y.s = x.s
           |  GROUP BY c.id1, c.id2)
           |SELECT i.id1, i.id2,
           |  CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) AS jaccard
           |FROM inter i
           |JOIN sets na ON na.id = i.id1
           |JOIN sets nb ON nb.id = i.id2
           |WHERE CAST(i.c AS DOUBLE) / (na.n + nb.n - i.c) >= 0.8
           |ORDER BY id1, id2""".stripMargin,
      "qf_dedup_simhash" ->
        s"""WITH p AS (SELECT * FROM ${simhashInput.sql})
           |SELECT a.image_id AS id1, b.image_id AS id2,
           |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
           |FROM p a JOIN p b ON a.image_id < b.image_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
           |ORDER BY id1, id2""".stripMargin,
      "qf_ann_brute" ->
        """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
          |           FROM embeddings WHERE vec_id < 3),
          |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |c AS (SELECT q.query_id, e.vec_id,
          |  CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec)) > 0
          |       THEN list_dot_product(v, qvec)
          |            / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec)))
          |       ELSE -1.0 END AS cos
          |  FROM e CROSS JOIN q),
          |r AS (SELECT query_id, vec_id, cos,
          |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS "rank"
          |  FROM c)
          |SELECT query_id, "rank", vec_id, ROUND(cos, 4) AS cos
          |FROM r WHERE "rank" <= 5 ORDER BY query_id, "rank"""".stripMargin,
      "qf_phash_dup_pairs" ->
        s"""WITH p AS (SELECT * FROM ${phashInput.sql})
           |SELECT a.image_id AS id1, b.image_id AS id2,
           |       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
           |FROM p a JOIN p b ON a.image_id < b.image_id
           |WHERE bit_count(xor(a.phash, b.phash)) <= 4
           |ORDER BY id1, id2""".stripMargin,
      "qf_phash_clusters" ->
        s"""WITH RECURSIVE pr AS (
           |  SELECT a.image_id AS id1, b.image_id AS id2
           |  FROM ${phashInput.sql} a JOIN ${phashInput.sql} b
           |    ON a.image_id < b.image_id
           |  WHERE bit_count(xor(a.phash, b.phash)) <= 4),
           |e AS (SELECT id1 AS a, id2 AS b FROM pr
           |      UNION SELECT id2, id1 FROM pr),
           |reach(a, b) AS (
           |  SELECT a, b FROM e
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
           |SELECT a AS image_id, LEAST(a, MIN(b)) AS cluster_id
           |FROM reach GROUP BY a ORDER BY image_id""".stripMargin)
  }
}

/** Memoized full-loop run for Verify (deletes + recreates its own
  * checkpoint dir so each Verify invocation runs all rounds fresh). */
object PipelineLoop {
  /** Under the fixture root: the qf_metrics_loop oracle reads the
    * loop's per-round audit checkpoints. */
  private[graft] def loopDir: String =
    new java.io.File(PipelineQueries.Fixture.root, "loop").getPath
  @volatile private var res: ValidationRun.RunResult = _
  def cachedLoop(spark: SparkSession): ValidationRun.RunResult = synchronized {
    if (res == null) {
      Scratch.deleteRecursively(new java.io.File(loopDir))
      // adaptive parts (4 at n=1000): metrics, thresholds and decisions
      // do not depend on the partition count; the loop's cost is job
      // count × task overhead, not data
      res = ValidationRun.run(spark,
        ValidationRun.RunConfig(n = 1000L, rounds = 3, outDir = loopDir,
          parts = graft.synth.GenConfig.adaptiveParts(1000L)))
    }
    res
  }

  /** Drop the memo so the next cachedLoop re-runs the full loop — the
    * bench's floor-of-2 second sweep must time real work, not a memo
    * hit. */
  def reset(): Unit = synchronized { res = null }
}

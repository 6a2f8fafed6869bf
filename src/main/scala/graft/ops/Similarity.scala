package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.synth.ImageGen

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (array<float>) — a training-data-pipeline addition with no
  * reference counterpart.
  *
  * Cosine is UDF-free (`zip_with` + `aggregate`, codegen'd). Baseline is
  * brute-force top-k against a broadcast query set; the scale path is
  * random-hyperplane LSH bucketing (signature equi-join, multi-probe via
  * 1-bit flips) so the join fans out on short keys instead of n×q rows.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine with a zero-norm guard: a degenerate (all-zero) vector must
    * rank LAST, not first — an unguarded divide yields NaN, and Spark's
    * ordering puts NaN above every double, so one zero vector would be
    * every query's rank-1 neighbor. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom > 0.0, dot(a, b) / denom).otherwise(lit(-1.0))
  }

  /** Per-query top-k of (query_id, qvec, vec_id, embedding) candidate
    * rows by cosine, ties to the smaller vec_id. */
  private def topKByCosine(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cands.withColumn("cos", cosine(col("embedding"), col("qvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** Brute-force cosine top-k: crossJoin against the (small, broadcast)
    * query set, per-query window top-k with deterministic tie-break. */
  def bruteForceTopK(
      embeddings: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (query_id, qvec)
      k: Int): DataFrame =
    topKByCosine(embeddings.crossJoin(broadcast(queries)), k)

  /** Deterministic random hyperplanes (seeded splitmix gaussian-ish). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 7L): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { d =>
        // sum of 4 uniforms − 2: cheap, deterministic, near-gaussian
        val r = new ImageGen.Rng(seed, p.toLong * 100003L + d, 31L)
        r.nextDouble() + r.nextDouble() + r.nextDouble() + r.nextDouble() - 2.0
      }
    }

  /** CONTRACT: `vec.length` must equal the plane dimension (the `dim`
    * passed to [[lshTopK]]). A shorter/longer vector hashes only the
    * common prefix — the bucket is still deterministic, so a uniformly
    * mis-sized corpus degrades recall instead of crashing (a single
    * ragged row must not kill a 10^12-row job; Banding.cosinePairs
    * skips such rows for the same reason), but a mis-configured `dim`
    * silently halves recall: assert the column width against `dim` at
    * the call site when ingesting a new table. */
  def signatureOf(vec: Array[Float], planes: Array[Array[Double]]): Int = {
    var sig = 0
    var p = 0
    while (p < planes.length) {
      var s = 0.0
      val pl = planes(p)
      var d = 0
      val n = math.min(pl.length, vec.length)
      while (d < n) { s += pl(d) * vec(d); d += 1 }
      if (s > 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Native codegen'd signature column (Exprs.hyperplaneSig): no UDF
    * serde boundary in the ANN hot path. */
  private def sigCol(c: Column, planes: Array[Array[Double]]): Column =
    coalesce(org.apache.spark.sql.graft.Exprs.hyperplaneSig(c, planes), lit(0))

  /** LSH-bucketed top-k: MULTI-TABLE signature equi-join with multi-probe
    * (each query probes its exact bucket plus all 1-bit-flip neighbors in
    * every table), then exact cosine over the deduplicated candidates.
    *
    * Per-neighbor recall at bit-agreement probability p = 1 − θ/π is
    * 1 − (1 − (p^b + b·p^(b−1)(1−p)))^L for b = nPlanes bits and
    * L = tables; the defaults (b=10, L=4) target ≥ 0.8 for clustered
    * corpora (neighbor cos ≥ ~0.8) while scanning ~L·(b+1)·n/2^b
    * candidates per query (≈ 2-5% of the corpus at 10^5–10^6 rows, and a
    * shrinking fraction as n grows). For near-uniform random vectors
    * (neighbor cos ≈ 0.3) NO hyperplane-LSH setting beats a scan at high
    * recall — that regime is what [[bruteForceTopK]] is for.
    *
    * Scale shape: the signature join carries (vec_id, table, sig) only;
    * embedding payloads re-join once by id after candidate dedup. */
  def lshTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nPlanes: Int = 10,
      tables: Int = 4): DataFrame = {
    val planesByTable = (0 until tables).map(t =>
      hyperplanes(dim, nPlanes, seed = 7L + 1000L * t))
    // one pass over the corpus computes all table signatures; the
    // exploded frame is slim (id + two ints + table index)
    val embSigs = embeddings.select(col("vec_id"),
      posexplode(array(planesByTable.map(p => sigCol(col("embedding"), p)): _*))
        .as(Seq("t", "sig")))
    val probeSigs = queries.select(col("query_id"),
      posexplode(array(planesByTable.map(p => sigCol(col("qvec"), p)): _*))
        .as(Seq("t", "qsig")))
      .select(col("query_id"), col("t"),
        explode(transform(
          sequence(lit(0), lit(nPlanes)), // 0 = exact bucket, i>0 = flip bit i-1
          i => when(i === 0, col("qsig"))
            .otherwise(col("qsig").bitwiseXOR(
              pow(lit(2.0), (i - 1).cast("double")).cast("int"))))).as("sig"))
    val cands = embSigs.join(broadcast(probeSigs), Seq("t", "sig"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    topKByCosine(cands
      .join(embeddings, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id")), k)
  }

  /** Adjusted dot product c·v − ||c||²/2 of `vec` with centroid `c`
    * (`halfNorm` = ||c||²/2), whose maximum over the centroids is the
    * nearest one (argmin ||v−c||²). Same prefix-dot contract as
    * [[signatureOf]]: a vector whose length differs from the centroid
    * dimension scores on the common prefix (deterministic, never
    * crashing; recall degrades if systematic). */
  def centroidScore(vec: Array[Float], c: Array[Double], halfNorm: Double): Double = {
    var s = 0.0
    var d = 0
    val n = math.min(c.length, vec.length)
    while (d < n) { s += c(d) * vec(d); d += 1 }
    s - halfNorm
  }

  /** Nearest centroid index by maximum [[centroidScore]] — scalar helper
    * behind the native [[org.apache.spark.sql.graft.Exprs.nearestCentroid]]
    * column. `halfNorms(i)` must be ||centroids(i)||²/2. */
  def nearestCentroid(vec: Array[Float], centroids: Array[Array[Double]],
      halfNorms: Array[Double]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < centroids.length) {
      val s = centroidScore(vec, centroids(i), halfNorms(i))
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    best
  }

  /** IVF (inverted-file) ANN top-k — the second scale path next to
    * [[lshTopK]], the FAISS-IVF shape re-expressed Spark-first:
    *
    *  1. COARSE QUANTIZER: KMeans over a bounded deterministic sample
    *     (top-`maxFit` by id-hash — the fit is O(maxFit·nlist) at any
    *     corpus size; [[graft.explain.ClusterExplainer.fitSample]]).
    *  2. ASSIGN: one partition-parallel pass tags every vector with its
    *     nearest centroid list via a native codegen'd column (the
    *     centroid matrix rides along as a codegen reference — no MLlib
    *     vector conversion on the big side, no UDF serde).
    *  3. PROBE: each query searches only its `nprobe` nearest lists
    *     (computed driver-side over the broadcast query set — queries
    *     are small by contract); candidates = equi-join on list id,
    *     exact cosine + per-query window top-k over ~nprobe/nlist of
    *     the corpus.
    *
    * Recall comes from cluster structure: a query's true neighbors live
    * in its own (and adjacent) lists. For corpora with NO structure
    * (near-uniform vectors) candidate recall degrades toward
    * nprobe/nlist — the same honesty note as [[lshTopK]]; brute force
    * is the fallback there. */
  def ivfTopK(
      embeddings: DataFrame, // (vec_id, embedding)
      queries: DataFrame, // (query_id, qvec)
      k: Int,
      nlist: Int = 64,
      nprobe: Int = 8,
      seed: Long = 42L,
      maxFit: Int = 20000,
      maxQueries: Int = 100000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // 1. coarse quantizer on a bounded sample. Null vectors are
    // admissible corpus rows (lshTopK/Banding tolerate them) but carry
    // nothing for the quantizer — excluded here, and excluded from the
    // result naturally (a null row's nearest-centroid list is null, so
    // it never matches a probe).
    val sample = graft.explain.ClusterExplainer
      .fitSample(embeddings.filter(col("embedding").isNotNull), Seq("vec_id"), maxFit)
      // codegen'd array_to_vector (float→double widening), no per-row
      // object serde
      .select(org.apache.spark.ml.functions.array_to_vector(
        col("embedding")).as("features"))
    // nlist is clamped by the SAMPLE size too: k above the point count
    // makes MLlib KMeans throw on degenerate (single-row) corpora
    val km = graft.explain.ClusterExplainer.kmeansFits(sample, seed) { n =>
      require(n > 0, "ivfTopK: no non-null embeddings to fit the coarse quantizer on")
      Seq(nlist)
    }.head
    val centroids = km.clusterCenters.map(_.toArray)
    val halfNorms = centroids.map(c => c.map(x => x * x).sum / 2.0)
    // 2. partition-parallel assignment, native expression
    val listOf = org.apache.spark.sql.graft.Exprs
      .nearestCentroid(col("embedding"), centroids, halfNorms)
    val assigned = embeddings.withColumn("__list", listOf)
    // 3. probes: driver-side over the (small) query set. The
    // small-queries contract is ENFORCED, not assumed: limit(max+1)
    // bounds what can ever reach the driver, and the explicit error
    // beats a silent driver OOM. A corpus-sized query set should go
    // through the distributed NearestCentroid assignment instead.
    val qRows = queries.select(col("query_id"), col("qvec"))
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"ivfTopK: query set exceeds maxQueries=$maxQueries; probe lists are " +
        "computed driver-side by contract — for corpus-sized query sets " +
        "assign lists with Exprs.nearestCentroid and join distributively")
    val probeRows = qRows.flatMap { r =>
      val q = r.getSeq[Float](1).toArray
      val scored = centroids.indices.map(i => i -> centroidScore(q, centroids(i), halfNorms(i)))
      scored.sortBy(-_._2).take(math.min(nprobe, centroids.length))
        .map { case (list, _) => (r.get(0), list) }
    }
    val probes = spark.createDataFrame(
      spark.sparkContext.parallelize(probeRows.toSeq.map(p => Row(p._1, p._2)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          queries.schema("query_id").dataType),
        org.apache.spark.sql.types.StructField("__list",
          org.apache.spark.sql.types.IntegerType))))
    topKByCosine(assigned.join(broadcast(probes), Seq("__list"))
      .join(broadcast(queries), Seq("query_id")), k)
  }

  /** Embedding near-duplicate pairs: multi-table hyperplane-LSH keys →
    * exact cosine scored INSIDE the banding run-scan
    * ([[graft.ops.Banding.cosinePairs]]) — candidate pairs never cross a
    * shuffle.
    *
    * Scale shape:
    *  - `nPlanes` auto-scales with n (`ceil(log2(n/targetBucket))`) so the
    *    expected bucket size stays ~targetBucket at any corpus size;
    *    recall for real near-dups (cos ≥ threshold) is recovered with
    *    `tables` independent hash tables: P(candidate) = 1−(1−p^b)^L,
    *    p = 1 − acos(cos)/π per bit.
    *  - each same-key run keeps its FIRST `maxBucket` members in
    *    (key, id) order, and overflow rows still score against them
    *    (degenerate-cluster guard; only overflow×overflow pairs are lost
    *    — mass-duplicate clusters are exact/minhash dedup's job first in
    *    a real pipeline).
    *  - the vector rides the banding exchange once per table; only TRUE
    *    near-dup pairs leave the scan, then re-join on id solely to
    *    restore the caller's original id type
    *    ([[graft.ops.Banding.restoreIds]], skipped when vec_id is
    *    already a string).
    *  - the embeddings lineage is scanned once per table (plus once for
    *    the auto-nPlanes count); if the embedding column comes from an
    *    expensive upstream job (decode/feature extraction), persist it
    *    before calling. */
  def cosineNearDupPairs(
      embeddings: DataFrame, // (vec_id, embedding)
      dim: Int,
      threshold: Double = 0.97,
      nPlanes: Int = 0, // 0 = auto-scale with corpus size
      tables: Int = 2,
      maxBucket: Int = 1024,
      targetBucket: Int = 256): DataFrame = {
    val emb = embeddings
      .select(col("vec_id").cast("string").as("id"), col("embedding").as("v"))
    val planesPerTable =
      if (nPlanes > 0) nPlanes
      else {
        val n = emb.count()
        math.max(8, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
          / math.log(2.0)).toInt)
      }
    // One 64-bit key per (table, signature); the VECTOR rides the banding
    // exchange (once per table) and every capped bucket is scored inside
    // the run-scan: O(input) shuffle plus O(true pairs) output, where
    // slim candidates plus a payload join hold O(candidates) shuffle
    // state — buckets sit at the cap on clustered corpora.
    val keyed = (0 until tables).map { t =>
      val planes = hyperplanes(dim, planesPerTable, seed = 7L + 1000L * t)
      emb.select(col("id"),
        xxhash64(lit(t), sigCol(col("v"), planes)).as("key"), col("v"))
    }.reduce(_ unionByName _)
    graft.ops.Banding.restoreIds(
      graft.ops.Banding.cosinePairs(keyed, maxBucket, threshold), embeddings, "vec_id")
  }

  /** Deterministic synthetic embeddings with seeded near-duplicate pairs
    * (cluster centers + noise; every 20th vector is a jittered copy of
    * an earlier one) — fixture for the near-dup operator. Cluster noise
    * is sized so same-cluster members land at cos ≈ 0.8 (similar but NOT
    * near-duplicates at the 0.97 default threshold) while the seeded
    * jittered copies sit at cos ≈ 0.9999 — tighter clusters would make
    * every within-cluster pair a "near-dup" (184k pairs from 2k rows),
    * which measures the fixture, not the operator. */
  def synthEmbeddings(spark: SparkSession, n: Long, dim: Int = 32,
      seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, 8).map { jid =>
      val id: Long = jid
      val isDup = id % 20L == 19L && id >= 20L
      val baseId = if (isDup) id - 19L else id
      val center = (baseId % 8L).toInt
      val rc = new ImageGen.Rng(seed, center.toLong, 41L)
      val base = Array.fill(dim)((rc.nextDouble() * 2 - 1).toFloat)
      val rn = new ImageGen.Rng(seed, baseId, 42L)
      val vec = base.map(v => v + (rn.nextDouble() * 1.0 - 0.5).toFloat)
      val out = if (isDup) {
        val rj = new ImageGen.Rng(seed, id, 43L)
        vec.map(v => v + (rj.nextDouble() * 0.004 - 0.002).toFloat)
      } else vec
      (id, out)
    }.toDF("vec_id", "embedding")
  }
}

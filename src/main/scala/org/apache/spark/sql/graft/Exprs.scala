package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Cast, Expression, GenericInternalRow, GetStructField, Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, ObjectType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.models.{LangIdModel, NGramLMModel}

/** Native columns for the model-based scorers — the codegen tier above
  * the Scala-UDF tier (SURVEY.md §2.9). Each column is one `StaticInvoke`
  * of a public scalar method of this object, so the call is written once
  * and stays inside whole-stage codegen (no UDF serde, no extra
  * projection). Model state — broadcasts, the SOM codebook, hyperplanes,
  * centroids, the perplexity reference — enters as an `ObjectType`
  * literal, which codegen passes as a reference object: the generated
  * source does not depend on it, so a refit reuses the compiled code.
  *
  * These are the Spark-native replacement for the reference's
  * `PatternDiscovery.assignInvalidityScore` scorer surface
  * (`backendClasses/PatternDiscovery.py:3-15`).
  */
object Exprs {

  /** `StaticInvoke` of the scalar method `fn` over `input` (expected to
    * be of `inputType`) followed by the model `state` literals. */
  private def invoke(fn: String, dataType: DataType, input: Expression,
      inputType: AbstractDataType, state: Seq[Expression] = Nil,
      propagateNull: Boolean = true, returnNullable: Boolean = false): Expression =
    StaticInvoke(getClass, dataType, fn, input +: state, inputType +: state.map(_.dataType),
      propagateNull, returnNullable)

  /** Model state as a reference object. Never a primitive literal: that
    * is written into the generated source, one compile per value. */
  private def ref(value: AnyRef, cls: Class[_]): Expression = Literal(value, ObjectType(cls))

  private val matrix = classOf[Array[Array[Double]]]

  /** Both langid signals of a caption from ONE forward pass of the
    * broadcast model: `struct<lang: string, accepted_prob: double>`, the
    * argmax language and the highest accepted-language probability. The
    * column builders [[langidBest]] / [[langidAcceptedProb]] and the SQL
    * functions `graft_langid` / `graft_accepted_prob` are field reads of
    * this struct; a plan that needs both fields materializes it once as
    * a column (see graft.detect.Scorer.withRawSignals). */
  def langidPredict(text: Expression, bc: Broadcast[LangIdModel]): Expression =
    invoke("langidRow", langIdType, text, StringType, Seq(ref(bc, classOf[Broadcast[_]])))

  val langIdType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("accepted_prob", DoubleType, nullable = false)))

  def langidRow(text: UTF8String, bc: Broadcast[LangIdModel]): InternalRow = {
    val p = bc.value.predict(text.toString)
    new GenericInternalRow(Array[Any](UTF8String.fromString(p.lang), p.acceptedProb))
  }

  /** Per-character perplexity under the broadcast n-gram LM. */
  def perplexity(text: Expression, bc: Broadcast[NGramLMModel]): Expression =
    invoke("perplexityScalar", DoubleType, text, StringType, Seq(ref(bc, classOf[Broadcast[_]])))

  def perplexityScalar(text: UTF8String, bc: Broadcast[NGramLMModel]): Double =
    bc.value.perplexity(text.toString)

  /** Hamming distance between two 64-bit fingerprints: popcount of the
    * xor, as a bigint. */
  def hamming64(a: Expression, b: Expression): Expression =
    Cast(BitwiseCount(BitwiseXor(a, b)), LongType)

  /** 64-bit SimHash fingerprint of a text (token-vote hashing — see
    * graft.ops.Dedup.simhash64). */
  def simhash64(text: Expression): Expression =
    invoke("simhash64Scalar", LongType, text, StringType)

  def simhash64Scalar(text: UTF8String): Long = graft.ops.Dedup.simhash64(text.toString)

  /** MinHash-LSH band keys of a text: one 64-bit bucket key per band,
    * whole signature computed in a single scalar pass (see
    * graft.ops.Dedup.minhashBandKeys for why this beats nested
    * higher-order functions). */
  def minhashBandKeys(text: Expression, shingleK: Int, numHashes: Int, bands: Int): Expression =
    invoke("minhashBandKeysScalar", ArrayType(LongType, containsNull = false), text, StringType,
      Seq(Literal(shingleK), Literal(numHashes), Literal(bands)))

  def minhashBandKeysScalar(text: UTF8String, shingleK: Int, numHashes: Int,
      bands: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      graft.ops.Dedup.minhashBandKeys(text.toString, shingleK, numHashes, bands))

  /** Whole PII/toxicity scrub chain in ONE pass (see
    * graft.scrub.Scrub.scrubString): one UTF8String↔String round-trip
    * per row instead of one per chained regexp_replace rule, precompiled
    * patterns, only the rules whose trigger characters the caption has,
    * allocation-free when nothing matches. Exact-equality
    * parity with the built-in chain is test-gated. */
  def scrubAll(text: Expression): Expression =
    invoke("scrubAllScalar", StringType, text, StringType)

  def scrubAllScalar(text: UTF8String): UTF8String =
    UTF8String.fromString(graft.scrub.Scrub.scrubString(text.toString))

  /** Random-hyperplane LSH signature of an array<float> embedding: bit p
    * of the result = sign of ⟨vec, plane_p⟩ (see
    * graft.ops.Similarity.signatureOf). The float array is read straight
    * off the unsafe row (no serde). Input arrays must not contain null
    * elements (embeddings never do). */
  def hyperplaneSigScalar(vec: ArrayData, planes: Array[Array[Double]]): Int =
    graft.ops.Similarity.signatureOf(vec.toFloatArray(), planes)

  /** Nearest-centroid list id for an array<float> embedding (IVF coarse
    * quantization): argmax over centroids of ⟨vec, c_i⟩ − ||c_i||²/2
    * (= argmin L2), with no MLlib vector serde. */
  def nearestCentroidScalar(vec: ArrayData, centroids: Array[Array[Double]],
      halfNorms: Array[Double]): Int =
    graft.ops.Similarity.nearestCentroid(vec.toFloatArray(), centroids, halfNorms)

  /** Word k-shingles of a text in ONE scalar pass — equal to the Catalyst
    * chain `transform(sequence(...), i -> array_join(slice(split(trim(
    * lower(text)), '\\s+'), i, k), ' '))` without its per-shingle slice
    * and array_join allocations. Output parity is exact and spec-gated
    * (OpsSpec): UTF8String.toLowerCase then
    * .trim() are the same methods Lower/StringTrim call, and
    * String.split("\\s+", -1) matches StringSplit's limit=-1 semantics
    * (leading/trailing empty tokens preserved identically). Returns an
    * empty array when the text has fewer than k tokens, and NEVER null:
    * like the chain's when(...).otherwise(array()), a NULL text gives
    * the empty array. */
  def shinglesScalar(text: UTF8String, k: Int): ArrayData =
    if (text == null) emptyShingles
    else {
      // same call order as the Catalyst chain: lower() first, then trim()
      val toks = text.toLowerCase.trim().toString.split("\\s+", -1)
      if (toks.length < k) new GenericArrayData(Array.empty[Any])
      else {
        val n = toks.length - k + 1
        val out = new Array[Any](n)
        var i = 0
        while (i < n) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
          out(i) = UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

  /** Shared empty result of [[shinglesScalar]] (read-only by contract). */
  private val emptyShingles = new GenericArrayData(Array.empty[Any])

  /** Batch-SOM best-matching unit over the codebook `weights`.
    *
    * Arithmetic parity is exact and spec-gated (SomSpec): distances
    * fold left-to-right from 0.0 over (w_i − f_i)² like the
    * zip_with/aggregate chain; ties take the lowest unit index
    * (strict Double.compare keeps the FIRST minimum, matching
    * array_position(array_min)'s first-match rule, incl. the NaN-is-
    * largest double ordering); a NULL features array, a null element,
    * or a dim mismatch yields NULL exactly as zip_with's null padding
    * nulls every distance. */
  def somBmuScalar(arr: ArrayData, weights: Array[Array[Double]]): java.lang.Integer = {
    val dim = weights(0).length
    if (arr.numElements() != dim) return null
    val f = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      f(i) = arr.getDouble(i)
      i += 1
    }
    somBmuArray(f, weights)
  }

  /** [[somBmuScalar]] over a plain double[] (shared by the SOM fit's
    * single-stage epoch pass). Never returns −1 for a well-sized
    * array. */
  def somBmuArray(f: Array[Double], weights: Array[Array[Double]]): Int = {
    val dim = weights(0).length
    if (f.length != dim) return -1
    var best = 0
    var bestD = Double.NaN
    var u = 0
    while (u < weights.length) {
      val w = weights(u)
      var acc = 0.0
      var j = 0
      while (j < dim) { val d = w(j) - f(j); acc += d * d; j += 1 }
      // Spark double ordering (NaN largest): strictly-less keeps the
      // FIRST minimal unit, the array_position(array_min) tie rule
      if (u == 0 || java.lang.Double.compare(acc, bestD) < 0) {
        best = u; bestD = acc
      }
      u += 1
    }
    best
  }

  /** Per-predicted-language perplexity reference with global fallback,
    * used by Scorer.pplScoreCol. Values equal
    * `coalesce(element_at(<map literal>, pred_lang), lit(global))`
    * exactly (ExprsSpec): a lookup hit returns the stored double, a miss
    * or NULL language returns `global`. Never null. */
  def pplRefLookup(lang: UTF8String, byLang: Map[String, Double],
      global: java.lang.Double): Double =
    if (lang == null) global else byLang.getOrElse(lang.toString, global.doubleValue)

  // ---- Column-level API -------------------------------------------------
  private def column(c: Column)(f: Expression => Expression): Column =
    Bridge.column(f(Bridge.expression(c)))

  def langidPredict(c: Column, bc: Broadcast[LangIdModel]): Column =
    column(c)(langidPredict(_, bc))

  /** Argmax language label (`graft_langid`). */
  def langidBest(c: Column, bc: Broadcast[LangIdModel]): Column =
    langidPredict(c, bc).getField("lang")

  /** Highest accepted-language probability (`graft_accepted_prob`). */
  def langidAcceptedProb(c: Column, bc: Broadcast[LangIdModel]): Column =
    langidPredict(c, bc).getField("accepted_prob")

  def perplexity(c: Column, bc: Broadcast[NGramLMModel]): Column = column(c)(perplexity(_, bc))

  def hamming64(a: Column, b: Column): Column =
    Bridge.column(hamming64(Bridge.expression(a), Bridge.expression(b)))

  def simhash64(c: Column): Column = column(c)(simhash64)

  def minhashBandKeys(c: Column, shingleK: Int, numHashes: Int, bands: Int): Column =
    column(c)(minhashBandKeys(_, shingleK, numHashes, bands))

  def scrubAll(c: Column): Column = column(c)(scrubAll)

  def shingles(c: Column, k: Int): Column = column(c)(invoke("shinglesScalar",
    ArrayType(StringType, containsNull = false), _, StringType, Seq(Literal(k)),
    propagateNull = false))

  /** BMU column over a codebook (see [[somBmuScalar]]); NULL on a NULL,
    * ragged or null-element features array. */
  def somBmu(c: Column, weights: Array[Array[Double]]): Column = {
    require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
      "codebook must be non-empty with uniform dimension")
    column(c)(invoke("somBmuScalar", IntegerType, _, ArrayType(DoubleType),
      Seq(ref(weights, matrix)), returnNullable = true))
  }

  def pplRef(predLang: Column, byLang: Map[String, Double], global: Double): Column =
    column(predLang)(invoke("pplRefLookup", DoubleType, _, StringType,
      Seq(ref(byLang, classOf[Map[_, _]]), ref(Double.box(global), classOf[java.lang.Double])),
      propagateNull = false))

  def hyperplaneSig(c: Column, planes: Array[Array[Double]]): Column =
    column(c)(invoke("hyperplaneSigScalar", IntegerType, _, ArrayType(FloatType),
      Seq(ref(planes, matrix))))

  def nearestCentroid(c: Column, centroids: Array[Array[Double]],
      halfNorms: Array[Double]): Column =
    column(c)(invoke("nearestCentroidScalar", IntegerType, _, ArrayType(FloatType),
      Seq(ref(centroids, matrix), ref(halfNorms, classOf[Array[Double]]))))

  /** Register the SQL surface on a session: the model-free functions of
    * [[graft.GraftExtensions.functions]] plus the model-bound ones
    * (graft_langid / graft_accepted_prob / graft_perplexity), with the
    * same arity check. */
  def registerSql(spark: SparkSession, langId: Broadcast[LangIdModel],
      lm: Broadcast[NGramLMModel]): Unit = {
    import graft.GraftExtensions.function
    val modelBound = Seq(
      function("graft_langid", "graft_langid(text) - argmax language label", 1)(
        es => GetStructField(langidPredict(es.head, langId), 0, Some("lang"))),
      function("graft_accepted_prob",
        "graft_accepted_prob(text) - highest accepted-language probability", 1)(
        es => GetStructField(langidPredict(es.head, langId), 1, Some("accepted_prob"))),
      function("graft_perplexity", "graft_perplexity(text) - per-character LM perplexity", 1)(
        es => perplexity(es.head, lm)))
    (graft.GraftExtensions.functions ++ modelBound).foreach { case (name, _, builder) =>
      Bridge.register(spark, name, builder)
    }
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, GenericInternalRow, GetStructField, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.models.{LangIdModel, NGramLMModel}

/** Native Catalyst expressions for the model-based scorers — the codegen
  * tier above the Scala-UDF tier (SURVEY.md §2.9): each implements
  * `doGenCode` so the call stays inside whole-stage codegen (no UDF
  * serde, no extra projection), reading broadcast model state via a
  * codegen reference object.
  *
  * These are the Spark-native replacement for the reference's
  * `PatternDiscovery.assignInvalidityScore` scorer surface
  * (/root/reference/backendClasses/PatternDiscovery.py:3-15).
  */
object Exprs {

  /** Both langid signals of a caption from ONE forward pass of the
    * broadcast model: `struct<lang: string, accepted_prob: double>`, the
    * argmax language and the highest accepted-language probability. The
    * column builders [[langidBest]] / [[langidAcceptedProb]] and the SQL
    * functions `graft_langid` / `graft_accepted_prob` are field reads of
    * this struct; a plan that needs both fields materializes it once as
    * a column (see graft.detect.Scorer.withRawSignals). */
  case class LangIdPredict(child: Expression, bc: Broadcast[LangIdModel])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = Exprs.langIdType
    override def nullSafeEval(v: Any): Any =
      Exprs.langidRow(bc.value, v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("langIdBc", bc,
        classOf[Broadcast[LangIdModel]].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = org.apache.spark.sql.graft.Exprs.langidRow(
           |  (graft.models.LangIdModel) $bcRef.value(), $c);""".stripMargin)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_langid_predict"
  }

  /** Result type of [[LangIdPredict]]. */
  val langIdType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("accepted_prob", DoubleType, nullable = false)))

  /** Scalar body of [[LangIdPredict]] (public static for codegen). */
  def langidRow(model: LangIdModel, text: UTF8String): InternalRow = {
    val p = model.predict(text.toString)
    new GenericInternalRow(Array[Any](UTF8String.fromString(p.lang), p.acceptedProb))
  }

  /** Per-character perplexity under the broadcast n-gram LM. */
  case class Perplexity(child: Expression, bc: Broadcast[NGramLMModel])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      bc.value.perplexity(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("lmBc", bc,
        classOf[Broadcast[NGramLMModel]].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = ((graft.models.NGramLMModel) $bcRef.value())
           |  .perplexity($c.toString());""".stripMargin)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_perplexity"
  }

  /** Hamming distance between two 64-bit fingerprints (fused xor +
    * popcount; also registrable in SQL as hamming64). */
  case class Hamming64(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName: String = "hamming64"
  }

  /** 64-bit SimHash fingerprint of a text (token-vote hashing — see
    * graft.ops.Dedup.simhash64). */
  case class SimHash64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      graft.ops.Dedup.simhash64(v.asInstanceOf[UTF8String].toString)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.ops.Dedup.simhash64($c.toString());")
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_simhash64"
  }

  /** MinHash-LSH band keys of a text: one 64-bit bucket key per band,
    * whole signature computed in a single scalar pass (see
    * graft.ops.Dedup.minhashBandKeys for why this beats nested
    * higher-order functions). */
  case class MinhashBandKeys(child: Expression, shingleK: Int,
      numHashes: Int, bands: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
        graft.ops.Dedup.minhashBandKeys(
          v.asInstanceOf[UTF8String].toString, shingleK, numHashes, bands))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray(graft.ops.Dedup.minhashBandKeys(
           |    $c.toString(), $shingleK, $numHashes, $bands));""".stripMargin)
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_minhash_bands"
  }

  /** Random-hyperplane LSH signature of an array<float> embedding: bit p
    * of the result = sign of ⟨vec, plane_p⟩ (see
    * graft.ops.Similarity.signatureOf). The plane matrix rides along as
    * a codegen reference object and the float array is read straight off
    * the unsafe row (no serde). Input arrays must not contain null
    * elements (embeddings never do). */
  case class HyperplaneSig(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def nullSafeEval(v: Any): Any =
      graft.ops.Similarity.signatureOf(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray(),
        planes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.ops.Similarity.signatureOf($c.toFloatArray(), $planesRef);")
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_hyperplane_sig"
  }

  /** Nearest-centroid list id for an array<float> embedding (IVF coarse
    * quantization): argmax over centroids of ⟨vec, c_i⟩ − ||c_i||²/2
    * (= argmin L2). The centroid matrix and precomputed half-norms ride
    * along as codegen reference objects — the corpus-side IVF assign
    * pass stays inside whole-stage codegen with no MLlib vector serde. */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]],
      halfNorms: Array[Double])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    override def nullSafeEval(v: Any): Any =
      graft.ops.Similarity.nearestCentroid(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray(),
        centroids, halfNorms)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val centroidsRef = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val normsRef = ctx.addReferenceObj("halfNorms", halfNorms, "double[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = graft.ops.Similarity.nearestCentroid(
           |  $c.toFloatArray(), $centroidsRef, $normsRef);""".stripMargin)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_nearest_centroid"
  }

  /** Word k-shingles of a text in ONE scalar pass — equal to the Catalyst
    * chain `transform(sequence(...), i -> array_join(slice(split(trim(
    * lower(text)), '\\s+'), i, k), ' '))` without its per-shingle slice
    * and array_join allocations. Output parity is exact and spec-gated
    * (OpsSpec): UTF8String.toLowerCase then
    * .trim() are the same methods Lower/StringTrim call, and
    * String.split("\\s+", -1) matches StringSplit's limit=-1 semantics
    * (leading/trailing empty tokens preserved identically). Returns an
    * empty array when the text has fewer than k tokens. */
  case class Shingles(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
    // NEVER null — parity with the Catalyst chain, whose
    // when(...).otherwise(array()) maps a NULL text to the EMPTY array
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) Exprs.emptyShingles
      else Exprs.shinglesScalar(v.asInstanceOf[UTF8String], k)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val childGen = child.genCode(ctx)
      ev.copy(code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull}
            ? org.apache.spark.sql.graft.Exprs.emptyShingles()
            : org.apache.spark.sql.graft.Exprs.shinglesScalar(${childGen.value}, $k);
        """,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_shingles"
  }

  /** Shared empty result of [[Shingles]] (read-only by contract). */
  val emptyShingles: org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  /** Batch-SOM best-matching-unit over a codebook reference object. The
    * codebook rides as a codegen reference rather than as literal values,
    * so the generated source is identical across fit epochs and the whole
    * fit shares ONE compiled plan shape.
    *
    * Arithmetic parity is exact and spec-gated (SomSpec): distances
    * fold left-to-right from 0.0 over (w_i − f_i)² like the
    * zip_with/aggregate chain; ties take the lowest unit index
    * (strict Double.compare keeps the FIRST minimum, matching
    * array_position(array_min)'s first-match rule, incl. the NaN-is-
    * largest double ordering); a NULL features array, a null element,
    * or a dim mismatch yields NULL exactly as zip_with's null padding
    * nulls every distance. */
  case class SomBmu(child: Expression, weights: Array[Array[Double]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] =
      Seq(org.apache.spark.sql.types.ArrayType(DoubleType))
    override def dataType: DataType = org.apache.spark.sql.types.IntegerType
    // null on ragged/null-element features even when the array is not
    override def nullable: Boolean = true
    override def nullSafeEval(v: Any): Any = {
      val r = Exprs.somBmuScalar(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], weights)
      if (r < 0) null else r
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("somWeights", weights, "double[][]")
      val bmu = ctx.freshName("bmu")
      nullSafeCodeGen(ctx, ev, c =>
        s"""int $bmu = org.apache.spark.sql.graft.Exprs.somBmuScalar($c, $wRef);
           |${ev.isNull} = $bmu < 0;
           |${ev.value} = $bmu;""".stripMargin)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_som_bmu"
  }

  /** Scalar body of [[SomBmu]] (public static for codegen); −1 encodes
    * NULL (ragged/null-element features). */
  def somBmuScalar(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      weights: Array[Array[Double]]): Int = {
    val dim = weights(0).length
    if (arr.numElements() != dim) return -1
    val f = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return -1
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

  /** Scalar body of [[Shingles]] (public static for codegen). */
  def shinglesScalar(text: UTF8String, k: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    // same call order as the Catalyst chain: lower() first, then trim()
    val toks = text.toLowerCase.trim().toString.split("\\s+", -1)
    if (toks.length < k)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
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
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Per-predicted-language perplexity reference with global fallback,
    * used by Scorer.pplScoreCol. The map and the global value ride as
    * codegen reference objects, so the generated source is identical
    * across the loop's per-round recalibrations and the whole-stage
    * codegen cache hits. Values equal
    * `coalesce(element_at(<map literal>, pred_lang), lit(global))`
    * exactly (ExprsSpec): a lookup hit returns the stored double, a miss
    * or NULL language returns `global`. Never null. */
  case class PplRef(child: Expression, byLang: Map[String, Double], global: Double)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) global
      else Exprs.pplRefLookup(v.asInstanceOf[UTF8String], byLang, global)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val mapRef = ctx.addReferenceObj("pplByLang", byLang,
        "scala.collection.immutable.Map")
      val globalRef = ctx.addReferenceObj("pplGlobal", Double.box(global),
        "java.lang.Double")
      val childGen = child.genCode(ctx)
      ev.copy(code = code"""
        ${childGen.code}
        double ${ev.value} = ${childGen.isNull}
          ? $globalRef.doubleValue()
          : org.apache.spark.sql.graft.Exprs.pplRefLookup(
              ${childGen.value}, $mapRef, $globalRef.doubleValue());
        """,
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    }
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_ppl_ref"
  }

  /** Scalar body of [[PplRef]] (public static for codegen). */
  def pplRefLookup(lang: UTF8String, byLang: Map[String, Double],
      global: Double): Double =
    byLang.getOrElse(lang.toString, global)

  /** Whole PII/toxicity scrub chain in ONE pass (see
    * graft.scrub.Scrub.scrubString): one UTF8String↔String round-trip
    * per row instead of one per chained regexp_replace rule, precompiled
    * patterns, only the rules whose trigger characters the caption has,
    * allocation-free when nothing matches. Exact-equality
    * parity with the built-in chain is test-gated. */
  case class ScrubAll(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(
        graft.scrub.Scrub.scrubString(v.asInstanceOf[UTF8String].toString))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
           |  graft.scrub.Scrub.scrubString($c.toString()));""".stripMargin)
    override protected def withNewChildInternal(newChild: Expression) =
      copy(child = newChild)
    override def prettyName: String = "graft_scrub"
  }

  // ---- Column-level API -------------------------------------------------
  def langidPredict(c: Column, bc: Broadcast[LangIdModel]): Column =
    Bridge.column(LangIdPredict(Bridge.expression(c), bc))

  /** Argmax language label (`graft_langid`). */
  def langidBest(c: Column, bc: Broadcast[LangIdModel]): Column =
    langidPredict(c, bc).getField("lang")

  /** Highest accepted-language probability (`graft_accepted_prob`). */
  def langidAcceptedProb(c: Column, bc: Broadcast[LangIdModel]): Column =
    langidPredict(c, bc).getField("accepted_prob")

  def perplexity(c: Column, bc: Broadcast[NGramLMModel]): Column =
    Bridge.column(Perplexity(Bridge.expression(c), bc))

  def hamming64(a: Column, b: Column): Column =
    Bridge.column(Hamming64(Bridge.expression(a), Bridge.expression(b)))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  def minhashBandKeys(c: Column, shingleK: Int, numHashes: Int, bands: Int): Column =
    Bridge.column(MinhashBandKeys(Bridge.expression(c), shingleK, numHashes, bands))

  def scrubAll(c: Column): Column =
    Bridge.column(ScrubAll(Bridge.expression(c)))

  def shingles(c: Column, k: Int): Column =
    Bridge.column(Shingles(Bridge.expression(c), k))

  def somBmu(c: Column, weights: Array[Array[Double]]): Column =
    Bridge.column(SomBmu(Bridge.expression(c), weights))

  def pplRef(predLang: Column, byLang: Map[String, Double], global: Double): Column =
    Bridge.column(PplRef(Bridge.expression(predLang), byLang, global))

  def hyperplaneSig(c: Column, planes: Array[Array[Double]]): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(c), planes))

  def nearestCentroid(c: Column, centroids: Array[Array[Double]],
      halfNorms: Array[Double]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(c), centroids, halfNorms))

  /** Register the SQL surface: hamming64 plus model-bound functions
    * (graft_langid / graft_accepted_prob / graft_perplexity). */
  def registerSql(
      spark: org.apache.spark.sql.SparkSession,
      langId: Broadcast[LangIdModel],
      lm: Broadcast[NGramLMModel]): Unit = {
    Bridge.register(spark, "hamming64", es => Hamming64(es(0), es(1)))
    Bridge.register(spark, "graft_simhash64", es => SimHash64(es.head))
    Bridge.register(spark, "graft_scrub", es => ScrubAll(es.head))
    Bridge.register(spark, "graft_accepted_prob",
      es => GetStructField(LangIdPredict(es.head, langId), 1, Some("accepted_prob")))
    Bridge.register(spark, "graft_langid",
      es => GetStructField(LangIdPredict(es.head, langId), 0, Some("lang")))
    Bridge.register(spark, "graft_perplexity", es => Perplexity(es.head, lm))
  }
}

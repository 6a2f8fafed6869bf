package graft.ops

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Banded near-duplicate pair generation: every dedup family (MinHash
  * candidates, n-gram Jaccard, embedding cosine, phash/SimHash Hamming)
  * pairs the ids that share a 64-bit band key through ONE run-scan
  * kernel, [[scan]].
  *
  * The kernel repartitions a `(key: long, id: string, payload)` frame by
  * key, sorts within partitions by `(key, id)`, and streams each
  * partition in plain Scala: every row of a same-key run is verified
  * against the earlier rows of the run it kept, and only pairs that pass
  * the verify leave as `(id1, id2, score)` with id1 < id2. That is one
  * shuffle of the input; a self equi-join would exchange the frame
  * twice, and a collect_list aggregation falls back to its slow
  * sort-based path at >128 keys per partition.
  *
  * Degenerate keys (a band key shared by a mass-duplicate cluster) are
  * CAPPED at the first `cap` rows of the run in id order, under one of
  * two [[CapPolicy]]s chosen per family:
  *  - [[StrictFirst]]: a row past the cap gets NO pairs from that key.
  *    Per-key work is bounded by cap²/2. The n-gram oracle's candidate
  *    rule ("both ids within the shingle's first maxDf by id rank")
  *    requires it, and the slim candidates feeding a verify join use it
  *    because candidate volume is their cost.
  *  - [[OverflowVerified]]: a row past the cap is still verified against
  *    the retained run but does not join it, so only overflow×overflow
  *    pairs are lost and per-row work stays ≤ cap comparisons.
  * Because the sort includes the id, which rows a hot run keeps does not
  * depend on shuffle arrival order. `truncated` counts rows past the cap
  * as a NONZERO-MEANS-TRUNCATED indicator: it is updated inside a
  * transformation, so retries, speculation or a second action over the
  * same frame can add the same rows again; zero after an action reliably
  * means no run overflowed. Giant exact-duplicate groups should be
  * collapsed by [[Dedup.exactKeepFirst]] before near-dup mining: pair
  * output over g duplicates is inherently O(g²).
  *
  * Equal ids in one run can only come from duplicate input rows and are
  * never paired. Numeric parity of the fused verifies:
  *  - Jaccard equals [[Dedup.jaccard]] bit for bit: per-doc distinct
  *    shingle sets (String equality ≡ UTF8String binary equality on
  *    valid UTF-8), inter/union counted as ints, one int→double
  *    division. Sort and merge use one comparator (String.compareTo).
  *  - Cosine equals [[Similarity.cosine]] bit for bit: per-element
  *    float→double casts, left-to-right accumulation, and the zero-norm
  *    guard (cos := −1, never emitted). Length-mismatched vectors are
  *    rejected, as the join shape's zip_with null-pads them into a null
  *    cosine.
  */
object Banding {

  /** What happens to the rows of a run past its first `cap`. */
  private[graft] sealed trait CapPolicy
  private[graft] case object StrictFirst extends CapPolicy
  private[graft] case object OverflowVerified extends CapPolicy

  /** Per-family arithmetic of the kernel: `prep` runs once per verified
    * row, `score` once per candidate pair (a: the earlier row of the
    * run); a NaN score rejects the pair. */
  private[graft] abstract class PairVerify[P, R] extends Serializable {
    def prep(p: P): R
    def score(a: R, b: R): Double
  }

  /** The run-scan kernel (see the object doc). `keyed` has columns
    * (id: string, key: long) and whatever `payload` reads. Output:
    * (id1, id2, score: double), id1 < id2, NOT distinct — a pair sharing
    * k keys is emitted up to k times. */
  private[graft] def scan[P: TypeTag, R](keyed: DataFrame, payload: Column,
      cap: Int, policy: CapPolicy, truncated: Option[LongAccumulator],
      verify: PairVerify[P, R]): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val verifyOverflow = policy == OverflowVerified
    keyed
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("id"))
      .select(col("key"), col("id"), payload)
      .as[(Long, String, P)]
      .mapPartitions { it =>
        new Iterator[(String, String, Double)] {
          private val out =
            scala.collection.mutable.Queue.empty[(String, String, Double)]
          private val ids = scala.collection.mutable.ArrayBuffer.empty[String]
          private val preps = scala.collection.mutable.ArrayBuffer.empty[R]
          private var curKey: Long = Long.MinValue
          private var haveKey = false
          private def advance(): Unit = {
            while (out.isEmpty && it.hasNext) {
              val (key, id, p) = it.next()
              if (!haveKey || key != curKey) {
                ids.clear(); preps.clear(); curKey = key; haveKey = true
              }
              val keep = ids.length < cap
              if (keep || verifyOverflow) {
                val r = verify.prep(p)
                var i = 0
                while (i < ids.length) {
                  if (ids(i) != id) {
                    val s = verify.score(preps(i), r)
                    if (!java.lang.Double.isNaN(s)) out += ((ids(i), id, s))
                  }
                  i += 1
                }
                if (keep) { ids += id; preps += r }
              }
              if (!keep) truncated.foreach(_.add(1L))
            }
          }
          def hasNext: Boolean = { advance(); out.nonEmpty }
          def next(): (String, String, Double) = { advance(); out.dequeue() }
        }
      }
      .toDF("id1", "id2", "score")
  }

  /** Restore the caller's id column type and order on string-keyed
    * pairs: `source` holds the original ids in `idCol`, the kernel saw
    * them cast to string. A no-op for string ids; otherwise both pair
    * columns join back to the distinct id map (the pairs side is
    * output-sized, so AQE broadcasts these joins at runtime) and
    * least/greatest restore id1 < id2 in the native order ("2" < "10"). */
  private[graft] def restoreIds(pairs: DataFrame, source: DataFrame,
      idCol: String): DataFrame =
    if (source.schema(idCol).dataType == org.apache.spark.sql.types.StringType) pairs
    else {
      val ids = source
        .select(col(idCol).cast("string").as("k"), col(idCol).as("orig"))
        .distinct()
      val scores = pairs.columns.filterNot(Set("id1", "id2")).map(col).toSeq
      pairs
        .join(ids.select(col("k").as("id1"), col("orig").as("__o1")), Seq("id1"))
        .join(ids.select(col("k").as("id2"), col("orig").as("__o2")), Seq("id2"))
        .select(Seq(least(col("__o1"), col("__o2")).as("id1"),
          greatest(col("__o1"), col("__o2")).as("id2")) ++ scores: _*)
    }

  private object AcceptAll extends PairVerify[Boolean, Boolean] {
    def prep(p: Boolean): Boolean = p
    def score(a: Boolean, b: Boolean): Double = 0.0
  }

  /** Distinct candidate pairs (id1, id2), id1 < id2, of a (id: string,
    * key: long) frame; strict cap. */
  def candidatePairs(keyed: DataFrame, maxBucket: Int = 1024,
      truncated: Option[LongAccumulator] = None): DataFrame =
    scan(keyed, lit(true), maxBucket, StrictFirst, truncated, AcceptAll)
      .select(col("id1"), col("id2")).distinct()

  private final class JaccardAtLeast(threshold: Double)
      extends PairVerify[Array[String], Array[String]] {
    // sorted distinct copy (one comparator for sort AND merge)
    def prep(a: Array[String]): Array[String] = {
      val c = a.clone()
      java.util.Arrays.sort(c.asInstanceOf[Array[AnyRef]])
      var w = 0
      var i = 0
      while (i < c.length) {
        if (w == 0 || c(w - 1) != c(i)) { c(w) = c(i); w += 1 }
        i += 1
      }
      if (w == c.length) c else java.util.Arrays.copyOf(c, w)
    }
    def score(a: Array[String], b: Array[String]): Double = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        val c = a(i).compareTo(b(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      val uni = a.length + b.length - inter
      val v = if (uni > 0) inter.toDouble / uni.toDouble else 0.0
      if (v >= threshold) v else Double.NaN
    }
  }

  /** Distinct (id1, id2, jaccard ≥ threshold) of a (id: string, key:
    * long, sh: array<string>) frame; strict cap. */
  def jaccardPairs(keyed: DataFrame, maxDf: Int, threshold: Double,
      truncated: Option[LongAccumulator] = None): DataFrame =
    scan(keyed, col("sh"), maxDf, StrictFirst, truncated, new JaccardAtLeast(threshold))
      .withColumnRenamed("score", "jaccard").distinct()

  private final class Normed(val v: Array[Float], val norm: Double)

  private final class CosineAtLeast(threshold: Double)
      extends PairVerify[Array[Float], Normed] {
    def prep(v: Array[Float]): Normed = {
      var s = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
      new Normed(v, math.sqrt(s))
    }
    def score(a: Normed, b: Normed): Double = {
      val n = b.v.length
      if (a.v.length != n) return Double.NaN
      var dot = 0.0; var d = 0
      while (d < n) { dot += a.v(d).toDouble * b.v(d).toDouble; d += 1 }
      val denom = a.norm * b.norm
      val cos = if (denom > 0.0) dot / denom else -1.0
      if (cos >= threshold) cos else Double.NaN
    }
  }

  /** Distinct (id1, id2, cos ≥ threshold) of a (id: string, key: long,
    * v: array<float>) frame; overflow rows verified. Null vectors are
    * filtered before the scan. */
  def cosinePairs(keyed: DataFrame, maxBucket: Int, threshold: Double,
      truncated: Option[LongAccumulator] = None): DataFrame =
    scan(keyed.filter(col("v").isNotNull), col("v"), maxBucket, OverflowVerified,
      truncated, new CosineAtLeast(threshold))
      .withColumnRenamed("score", "cos").distinct()

  private final class HammingAtMost(maxHamming: Int) extends PairVerify[Long, Long] {
    def prep(ph: Long): Long = ph
    def score(a: Long, b: Long): Double = {
      val h = java.lang.Long.bitCount(a ^ b)
      if (h <= maxHamming) h.toDouble else Double.NaN
    }
  }

  /** (id1, id2, hamming ≤ maxHamming) of a (id: string, key: long, ph:
    * long) frame, NOT distinct; overflow rows verified. */
  private[graft] def hammingPairs(keyed: DataFrame, maxBucket: Int,
      maxHamming: Int): DataFrame =
    scan(keyed, col("ph"), maxBucket, OverflowVerified, None, new HammingAtMost(maxHamming))
      .select(col("id1"), col("id2"), col("score").cast("int").as("hamming"))
}

package graft.models

import org.apache.spark.sql.{Dataset, SparkSession}

/** KenLM-style character n-gram language model with Stupid Backoff
  * (tri → bi → uni → floor), used as the perplexity scorer. The count
  * tables are fit with one distributed count-per-partition → groupBy → sum pass
  * over the *whole* corpus — the Spark translation of the reference
  * training its anomaly model on the full table
  * (/root/reference/backendClasses/DQTestToolHelper.py:130) — then
  * collected (bounded: |charset|^3 keys) and broadcast.
  *
  * The model serializes as parallel sorted arrays of kind-tagged keys and
  * counts (compact for the broadcast and the checkpoint); each JVM
  * rebuilds the lookup tables ([[NGramCounts]]) from them on first use.
  * The serial version is pinned so a checkpoint stays readable while the
  * serialized fields (`keys`, `vals`, `total`) are unchanged.
  */
@SerialVersionUID(7361527526120262779L)
final class NGramLMModel(
    private[graft] val keys: Array[Long], // sorted kind-tagged n-gram keys
    private[graft] val vals: Array[Long],
    val total: Long) extends Serializable {

  import NGramLMModel._

  @transient private lazy val counts: NGramCounts = NGramCounts.of(keys, vals)

  def size: Int = keys.length

  def logProb(text: String): Double = logProbNormalized(LangId.normalize(text))

  /** Per-character perplexity (length-normalized). */
  def perplexity(text: String): Double = {
    val s = LangId.normalize(text)
    val n = math.max(1, s.length - 2)
    math.exp(-logProbNormalized(s) / n)
  }

  private def logProbNormalized(s: String): Double = {
    if (s.length < 3) return math.log(floorProb)
    val c = counts
    val uni = c.uni
    val bi = c.bi
    val tri = c.tri
    var lp = 0.0
    var i = 2
    while (i < s.length) {
      val c1 = s.charAt(i - 2) & 0x7f
      val c2 = s.charAt(i - 1) & 0x7f
      val c3 = s.charAt(i) & 0x7f
      val t = tri.get((c1 << 14) | (c2 << 7) | c3)
      val p =
        if (t > 0L) t.toDouble / bi((c1 << 7) | c2).toDouble
        else {
          val b = bi((c2 << 7) | c3)
          if (b > 0L) backoff * b.toDouble / uni(c2).toDouble
          else {
            val u = uni(c3)
            if (u > 0L) backoff * backoff * u.toDouble / total.toDouble
            else floorProb
          }
        }
      lp += math.log(p)
      i += 1
    }
    lp
  }
}

object NGramLMModel {
  val backoff = 0.4
  val floorProb = 1e-7

  def apply(counts: Map[Long, Long], total: Long): NGramLMModel =
    fromPairs(counts.toArray, total)

  def fromPairs(pairs: Array[(Long, Long)], total: Long): NGramLMModel = {
    val sorted = pairs.sortBy(_._1)
    new NGramLMModel(sorted.map(_._1), sorted.map(_._2), math.max(1L, total))
  }

  // 7-bit char packing with a kind tag in the top bits; the low 32 bits
  // are the index into the matching NGramCounts table.
  @inline def uniKey(c: Char): Long = (1L << 32) | (c & 0x7f)
  @inline def biKey(c1: Char, c2: Char): Long =
    (2L << 32) | ((c1 & 0x7f) << 7) | (c2 & 0x7f)
  @inline def triKey(c1: Char, c2: Char, c3: Char): Long =
    (3L << 32) | ((c1 & 0x7f).toLong << 14) | ((c2 & 0x7f) << 7) | (c3 & 0x7f)
}

/** Character n-gram counts in primitive tables: unigrams and bigrams in
  * dense arrays indexed by their 7-bit packed chars, trigrams (up to 2^21
  * codes, sparse in practice) in an open-addressing [[CodeCounts]]. The
  * same tables count a partition in [[NGramLM.fit]] and serve the lookups
  * of [[NGramLMModel.perplexity]]. */
private[graft] final class NGramCounts(triCapacity: Int) {
  val uni = new Array[Long](1 << 7)
  val bi = new Array[Long](1 << 14)
  val tri = new CodeCounts(triCapacity)

  /** Count every 1-, 2- and 3-gram of one normalized text. */
  def add(text: String): Unit = {
    val s = LangId.normalize(text)
    var i = 0
    while (i < s.length) {
      val c3 = s.charAt(i) & 0x7f
      uni(c3) += 1
      if (i >= 1) {
        val c2 = s.charAt(i - 1) & 0x7f
        bi((c2 << 7) | c3) += 1
        if (i >= 2) tri.add(((s.charAt(i - 2) & 0x7f) << 14) | (c2 << 7) | c3, 1L)
      }
      i += 1
    }
  }

  /** Every non-zero count as a (kind-tagged key, count) pair. */
  def pairs: Array[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuilder.make[(Long, Long)]
    var i = 0
    while (i < uni.length) { if (uni(i) > 0L) out += (((1L << 32) | i, uni(i))); i += 1 }
    i = 0
    while (i < bi.length) { if (bi(i) > 0L) out += (((2L << 32) | i, bi(i))); i += 1 }
    tri.foreach((code, n) => out += (((3L << 32) | code, n)))
    out.result()
  }
}

private[graft] object NGramCounts {
  /** Tables holding the given (kind-tagged key, count) pairs. */
  def of(keys: Array[Long], vals: Array[Long]): NGramCounts = {
    val t = new NGramCounts(keys.count(k => (k >>> 32) == 3L))
    var i = 0
    while (i < keys.length) {
      val code = keys(i).toInt
      (keys(i) >>> 32).toInt match {
        case 1 => t.uni(code) = vals(i)
        case 2 => t.bi(code) = vals(i)
        case 3 => t.tri.add(code, vals(i))
      }
      i += 1
    }
    t
  }
}

/** Open-addressing (linear probing) map from a non-negative int code to a
  * long count, kept at most half full. No per-entry objects, unlike a
  * `java.util.HashMap[Long, Long]`. */
private[graft] final class CodeCounts(expected: Int) {
  // capacity = 2^bits >= 2 * expected
  private var bits = 32 - Integer.numberOfLeadingZeros(math.max(4, expected) * 2 - 1)
  private var codes = Array.fill(1 << bits)(-1)
  private var counts = new Array[Long](1 << bits)
  private var used = 0

  /** The slot holding `code`, else the empty slot where it belongs
    * (Fibonacci hashing: the top `bits` bits of code × 2^32/φ). */
  private def slot(code: Int): Int = {
    val mask = codes.length - 1
    var i = (code * 0x9e3779b9) >>> (32 - bits)
    while (codes(i) != code && codes(i) >= 0) i = (i + 1) & mask
    i
  }

  def get(code: Int): Long = {
    val i = slot(code)
    if (codes(i) == code) counts(i) else 0L
  }

  def add(code: Int, n: Long): Unit = {
    val i = slot(code)
    if (codes(i) == code) counts(i) += n
    else {
      codes(i) = code
      counts(i) = n
      used += 1
      if (used * 2 > codes.length) grow()
    }
  }

  def foreach(f: (Int, Long) => Unit): Unit = {
    var i = 0
    while (i < codes.length) { if (codes(i) >= 0) f(codes(i), counts(i)); i += 1 }
  }

  private def grow(): Unit = {
    val oldCodes = codes
    val oldCounts = counts
    bits += 1
    codes = Array.fill(1 << bits)(-1)
    counts = new Array[Long](1 << bits)
    used = 0
    var i = 0
    while (i < oldCodes.length) { if (oldCodes(i) >= 0) add(oldCodes(i), oldCounts(i)); i += 1 }
  }
}

object NGramLM {
  /** Distributed fit. Each partition counts into primitive tables
    * ([[NGramCounts]], bounded by the key space ≤ |charset|³, not by the
    * partition's row count) and ships only its (key, count) pairs into
    * the shuffle — no per-n-gram encoded row and no boxed map entry. */
  def fit(spark: SparkSession, captions: Dataset[String]): NGramLMModel = {
    import spark.implicits._
    val counted = captions
      .mapPartitions { it =>
        val c = new NGramCounts(1 << 12)
        it.foreach(c.add)
        c.pairs.iterator
      }
      .groupBy("_1").agg(org.apache.spark.sql.functions.sum("_2"))
      .as[(Long, Long)]
      .collect()
    val total = counted.iterator
      .filter { case (k, _) => (k >>> 32) == 1L }
      .map(_._2).sum
    NGramLMModel.fromPairs(counted, total)
  }
}

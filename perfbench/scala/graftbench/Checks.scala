package graftbench

import scala.collection.mutable

/** Driver-side recomputations the benchmark holds the engine's outputs to.
  * Each returns the number of offending items (0 = pass), so a failed
  * check can say how far off it was. */
object Checks {

  /** Connected-component minimum of every node in an undirected pair list,
    * by union-find with path halving. */
  def componentMin(pairs: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var a = x
      while (parent(a) != a) {
        val g = parent(parent(a))
        parent(a) = g
        a = g
      }
      a
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      // the smaller id becomes the root, so a root is its component's min
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Labels that disagree with the union-find component minimum, plus
    * nodes present on one side only. */
  def clusterMismatches(pairs: Iterable[(String, String)],
      labels: Iterable[(String, String)]): Int = {
    val want = componentMin(pairs)
    val got = labels.toMap
    val wrong = want.count { case (k, v) => !got.get(k).contains(v) }
    wrong + got.keySet.diff(want.keySet).size
  }

  /** Pairs whose recomputed Hamming distance differs from the reported
    * one or exceeds `bound`, plus pairs not in canonical id1 < id2 form and
    * repeated pairs. */
  def hammingMismatches(pairs: Seq[(String, String, Int)], hash: String => Long,
      bound: Int): Int = {
    val bad = pairs.count { case (a, b, h) =>
      val d = java.lang.Long.bitCount(hash(a) ^ hash(b))
      !(a < b) || d != h || d > bound
    }
    bad + (pairs.length - pairs.map(p => (p._1, p._2)).distinct.length)
  }

  /** Word k-shingles as the engine defines them: trim, lower-case, split
    * on whitespace, join each run of k tokens with one space. */
  def shingles(text: String, k: Int): Set[String] = {
    val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < k) Set.empty
    else (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val union = (a | b).size
    if (union == 0) 0.0 else (a & b).size.toDouble / union
  }

  /** Pairs whose recomputed shingle Jaccard is below `threshold` or differs
    * from the reported value. */
  def jaccardMismatches(pairs: Seq[(String, String, Double)], text: String => String,
      k: Int, threshold: Double): Int =
    pairs.count { case (a, b, j) =>
      val got = jaccard(shingles(text(a), k), shingles(text(b), k))
      got < threshold || math.abs(got - j) > 1e-9
    }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Pairs whose recomputed cosine is below `threshold` (with float-sum
    * slack) or not in canonical id order. */
  def cosineMismatches(pairs: Seq[(Long, Long, Double)], vec: Long => Array[Float],
      threshold: Double): Int =
    pairs.count { case (a, b, _) => !(a < b) || cosine(vec(a), vec(b)) < threshold - 1e-6 }
}

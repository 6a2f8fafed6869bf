package graft.discovery

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Near-duplicate discovery via perceptual-hash banding (north-rule
  * addition; no reference counterpart — SURVEY.md §2.3).
  *
  * Guaranteed-recall scheme for Hamming distance ≤ `maxHamming`: split the
  * 64-bit phash into `blocks` equal blocks; ≤ maxHamming flips can damage
  * at most maxHamming blocks, so with blocks = maxHamming + 2 at least
  * TWO blocks stay intact, and we can band on *pairs* of blocks —
  * C(blocks, 2) keys of ~2·64/blocks bits each. Pair keys are much more
  * selective than single blocks (the classic single-block pigeonhole
  * scheme floods the shuffle with n²/2^(64/blocks) candidate pairs at
  * web scale; pair keys square the selectivity), at the cost of
  * C(blocks,2)/blocks more emitted rows — a shuffle-size vs
  * candidate-count trade that favors pair keys from ~10^6 rows up.
  *
  * Every candidate is verified by exact Hamming distance inside the
  * shared run-scan ([[graft.ops.Banding]]); a run past 4096 members
  * still verifies its overflow rows against the retained ones.
  */
object PhashDup {

  /** Candidate pairs verified at Hamming ≤ maxHamming.
    * Input must have (idCol, phashCol); output (id1, id2, hamming) with
    * id1 < id2, distinct. */
  def duplicatePairs(
      images: DataFrame,
      idCol: String = "image_id",
      phashCol: String = "phash",
      maxHamming: Int = 4): DataFrame =
    rawPairs(images, idCol, phashCol, maxHamming).distinct()

  /** Pair stream BEFORE the final distinct: a pair sharing k intact
    * block-pairs is emitted k times. [[dropIds]] consumes this directly —
    * its own id-level distinct subsumes the pair-level one, saving a
    * full shuffle of the pair set. */
  private def rawPairs(
      images: DataFrame,
      idCol: String,
      phashCol: String,
      maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 2
    val bits = 64 / blocks // block width (floor; last block takes the rest)
    val blockExprs = (0 until blocks).map { i =>
      val lo = i * bits
      val width = if (i == blocks - 1) 64 - lo else bits
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      shiftrightunsigned(col(phashCol), lo).bitwiseAND(lit(mask))
    }
    // All C(blocks,2) block-pair keys, PACKED into one 64-bit hash per key
    // (block-pair tag + both block values through xxhash64): the exploded
    // frame shuffles/sorts on a single long instead of (int, long, long) —
    // ~40% less shuffle volume and a cheaper sort comparator. A hash
    // collision between two distinct (tag, v1, v2) keys can only MERGE two
    // buckets, i.e. add candidate comparisons; every emitted pair is still
    // verified by exact Hamming, so recall and output are unaffected.
    val pairKeys = for {
      i <- 0 until blocks
      j <- (i + 1) until blocks
    } yield xxhash64(lit(i * blocks + j), blockExprs(i), blockExprs(j))

    // Ids enter the run-scan as strings; Banding.restoreIds gives a
    // non-string id column back its type and native order.
    val banded = images
      .select(col(idCol).cast("string").as("id"), col(phashCol).as("ph"),
        explode(array(pairKeys: _*)).as("key"))
    val pairs = graft.ops.Banding.hammingPairs(banded, maxBucket = 4096, maxHamming)
    graft.ops.Banding.restoreIds(pairs, images, idCol)
  }

  /** Ids to drop: for every verified pair keep the smaller id
    * (keep-first dedup). Returns a single-column frame `image_id`.
    * Consumes the raw (pre-distinct) pair stream — the id-level
    * distinct below subsumes pair-level dedup. */
  def dropIds(images: DataFrame, idCol: String = "image_id",
      phashCol: String = "phash", maxHamming: Int = 4): DataFrame =
    rawPairs(images, idCol, phashCol, maxHamming)
      .select(col("id2").as(idCol)).distinct()

  /** Duplicate clusters: the connected components of the pair graph, as
    * (image_id, cluster_id = min id of the component) for every id in a
    * pair, both columns of the `id1` column's type.
    *
    * Union-find (union by min, path compression) in two Spark stages:
    * each partition of the pairs is reduced to a spanning forest of
    * its edges — one (node, root) row per node it touched — and a single
    * task unions those forests into the final labels; both stages run
    * [[unionFind]]. There are no rounds, so there is no cap to hit;
    * nothing is cached or collected, and nothing runs before the
    * caller's action. Roots are compared in Spark's ordering of the id
    * type (strings by UTF-8 bytes), so every root is its component's
    * minimum whatever the input order or task retries — the same labels
    * as the transitive-closure minimum the DuckDB oracle computes.
    *
    * Memory: the stage-2 task holds one map entry per distinct id of the
    * pair graph, which is far smaller than the corpus. A distributed
    * merge (large-star/small-star, Kiveris et al., SoCC 2014) pays for
    * its extra shuffle rounds only once a pair graph outgrows one task;
    * no workload has one yet, so there is no size threshold and no
    * second path. */
  def clusters(pairs: DataFrame): DataFrame = {
    val idType = pairs.schema("id1").dataType
    val order = idOrdering(idType)
    val labels = Encoders.row(StructType(Seq(
      StructField("image_id", idType), StructField("cluster_id", idType))))
    pairs.select(col("id1"), col("id2"))
      .mapPartitions(unionFind(order) _)(labels)
      .repartition(1)
      .mapPartitions(unionFind(order) _)(labels)
  }

  /** Union-find over (a, b) rows with the smaller root winning each
    * union; emits (node, component minimum) once per node seen. */
  private def unionFind(order: Ordering[Any])(edges: Iterator[Row]): Iterator[Row] = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      var up = parent.getOrElseUpdate(x, x)
      while (up != root) { root = up; up = parent(root) }
      var node = x
      while (node != root) { val next = parent(node); parent(node) = root; node = next }
      root
    }
    edges.foreach { e =>
      val a = find(e.get(0))
      val b = find(e.get(1))
      if (order.lt(a, b)) parent(b) = a else if (order.lt(b, a)) parent(a) = b
    }
    parent.keys.toArray.iterator.map(n => Row(n, find(n)))
  }

  /** Spark's ordering of an id type, as `min` applies it: UTF-8 byte
    * order for strings (not UTF-16 `String.compareTo`), numeric order
    * for integral ids. */
  private def idOrdering(idType: DataType): Ordering[Any] = idType match {
    case StringType => (a, b) => UTF8String.fromString(a.asInstanceOf[String])
      .binaryCompare(UTF8String.fromString(b.asInstanceOf[String]))
    case ByteType | ShortType | IntegerType | LongType =>
      (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    case other =>
      throw new IllegalArgumentException(s"unsupported cluster id type $other")
  }
}

package graft.discovery

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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

  /** Duplicate clusters via min-label propagation over the pair graph,
    * iterated TO CONVERGENCE (no label changes) with a hard iteration
    * cap — the distributed connected-components standard: each round is
    * one shuffle join + aggregation, labels are localCheckpoint'ed so
    * lineage stays flat, and the rounds needed equal the component
    * diameter (dup chains are short; the cap is a runaway guard, and
    * hitting it logs nothing silent — the convergence flag is the loop
    * condition, so a capped run simply returns the best labels found).
    * Returns (image_id, cluster_id = min id in component) for every id
    * appearing in a pair. Exact-equivalent to transitive-closure min
    * reachability once converged (the DuckDB oracle computes it that
    * way). */
  def clusters(pairs: DataFrame, maxIterations: Int = 20,
      hopsAfter: Int = 12): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .cache()
    // lazy init — materialized by the first iteration's action
    var labelsCache = edges.groupBy(col("id1").as("image_id"))
      .agg(least(min(col("id2")), first(col("id1"))).as("cluster_id"))
      .cache()
    var labels: DataFrame = labelsCache
    var i = 1
    var converged = false
    while (i < maxIterations && !converged) {
      // ONE job, ONE join, ONE aggregation per iteration: the node's own
      // label joins the min-reduction as a tagged UNION row instead of a
      // second join (min over messages ∪ own ≡
      // least(min(nbr), own)), the changed flag is min(messages) < own
      // computed in the SAME aggregate (labels only ever DECREASE —
      // exactly the old next≠labels condition), and it rides the
      // materializing count() as an Observation; cache replaces
      // localCheckpoint so nothing is serialized per round. Lineage
      // nests one cached join per iteration — bounded by maxIterations,
      // and execution always shortcuts at the previous iteration's
      // cached frame.
      val msgs = edges
        .join(labels, edges("id2") === labels("image_id"), "inner")
        .select(edges("id1").as("image_id"), col("cluster_id").as("label"),
          lit(false).as("__own"))
      // ADAPTIVE pointer doubling: after `hopsAfter` plain rounds an
      // unconverged graph additionally propagates label-of-label
      // (shortcut hops, the large-star/small-star idea) — remaining
      // convergence then needs O(log d) rounds instead of O(d), so the
      // 20-round cap is effectively unreachable (12 + 8 hop rounds
      // covers diameters past 2^8). Hops are NOT free (one extra
      // labels⋈labels join per round: measured 0.75 s/round vs 0.33
      // plain on the sf0.1 graph), and real dup-chain graphs converge
      // in ≤10 plain rounds — so the common case never pays for them.
      // Labels stay ids of component members and only ever decrease, so
      // the CONVERGED state is unchanged with or without hops: stable
      // under neighbor-min ⇒ per-component constant = component min.
      val withHops = i > hopsAfter
      val maybeHops =
        if (!withHops) Nil
        else Seq(labels.alias("a")
          .join(labels.alias("b"), col("a.cluster_id") === col("b.image_id"))
          .select(col("a.image_id").as("image_id"),
            col("b.cluster_id").as("label"), lit(false).as("__own")))
      val stepped = maybeHops.foldLeft(msgs)(_ unionByName _)
        .unionByName(labels.select(col("image_id"),
          col("cluster_id").as("label"), lit(true).as("__own")))
        .groupBy(col("image_id"))
        .agg(min(col("label")).as("cluster_id"),
          min(when(col("__own"), col("label"))).as("__prev"))
        .select(col("image_id"), col("cluster_id"),
          (col("cluster_id") < col("__prev")).as("__changed"))
      val obs = org.apache.spark.sql.Observation()
      val cachedNext = stepped
        .observe(obs, sum(when(col("__changed"), 1L).otherwise(0L)).as("changed"))
        .select(col("image_id"), col("cluster_id"))
        .cache()
      cachedNext.count(): Unit
      converged = Option(obs.get("changed")).forall {
        case n: Long => n == 0L
        case _ => true // a null sum means zero rows — converged
      }
      labelsCache.unpersist()
      labelsCache = cachedNext
      // flatten the logical lineage (no job): the step plan references
      // `labels` twice (join + union), so carrying the raw plan forward
      // would DOUBLE it per iteration — exponential analysis cost and a
      // driver OOM once the pair graph needs ~10 rounds (seen at sf0.1).
      // Flattened AFTER cache+count so its planning picks up the
      // materialized InMemoryRelation.
      labels = org.apache.spark.sql.graft.Bridge.flattenLineage(cachedNext)
      i += 1
    }
    edges.unpersist()
    labels
  }
}

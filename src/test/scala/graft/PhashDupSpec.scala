package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.discovery.PhashDup
import graft.synth.{GenConfig, ImageGen}
import org.apache.spark.sql.graft.CacheProbe

class PhashDupSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("finds all injected near-duplicate pairs (guaranteed recall ≤ 4 flips)") {
    val cfg = GenConfig(n = 2000L)
    val images = ImageGen.images(spark, cfg)
    val pairs = PhashDup.duplicatePairs(images).collect()
    val expectedDups = (32L until cfg.n).flatMap { id =>
      if (ImageGen.faultClass(cfg.seed, cfg.faultPct, id) == "near_duplicate")
        Some(f"img${ImageGen.dupBaseId(cfg.seed, cfg.faultPct, id)}%09d" -> f"img$id%09d")
      else None
    }.toSet
    val found = pairs.map(r => (r.getString(0), r.getString(1))).toSet
    expectedDups.foreach { p => assert(found.contains(p), s"missed pair $p") }
  }

  test("dropIds drops only the larger id of each pair — never a clean base") {
    val cfg = GenConfig(n = 2000L)
    val images = ImageGen.images(spark, cfg)
    val dropped = PhashDup.dropIds(images).as[String].collect().toSet
    val faultyIds = (0L until cfg.n)
      .filter(id => ImageGen.faultClass(cfg.seed, cfg.faultPct, id) != null)
      .map(id => f"img$id%09d").toSet
    // every dropped id must be an injected fault (no clean row dropped)
    dropped.foreach(id => assert(faultyIds.contains(id), s"clean row dropped: $id"))
  }

  test("numeric ids keep their type and NATIVE keep-first order") {
    // string order would say "10" < "2" and drop the wrong side; the
    // restore join must give (2, 10) with bigint columns and drop 10
    val df = Seq((2L, 0L), (10L, 1L)).toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df)
    assert(pairs.schema("id1").dataType ==
      org.apache.spark.sql.types.LongType, "id type must be preserved")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 10L)), s"got $got")
    val dropped = PhashDup.dropIds(df).as[Long].collect().toSet
    assert(dropped == Set(10L), s"keep-first must keep the numeric min: $dropped")
  }

  test("hamming filter: distances > 4 are excluded") {
    val df = Seq(
      ("a", 0L), ("b", 0x1FL /* hamming 5 from a */), ("c", 0x3L /* 2 from a */))
      .toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("a", "c")))
    assert(!pairs.contains(("a", "b")))
  }

  test("clusters assign min-id label") {
    val df = Seq(("a", 1L), ("b", 3L), ("c", 7L)).toDF("image_id", "phash")
    val pairs = PhashDup.duplicatePairs(df)
    val clusters = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(clusters.values.toSet == Set("a"))
  }

  test("clusters converge on a chain longer than the old fixed 3 rounds") {
    // path graph a-b-c-d-e-f-g: min-label needs ~diameter rounds to
    // reach the far end; the convergence-checked loop must finish it
    val ids = "abcdefg".map(_.toString)
    val pairs = ids.zip(ids.tail).map { case (x, y) => (x, y) }
      .toSeq.toDF("id1", "id2")
    val labels = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == ids.toSet)
    assert(labels.values.toSet == Set("a"), labels.toString)
  }

  test("clusters label long chains with the component minimum, no round cap") {
    // a 30-node chain (diameter 29) and a 4,096-node chain (diameter
    // 4,095): every node gets its component minimum whatever the diameter
    val ids = (0 until 30).map(i => f"n$i%03d")
    val pairs = ids.zip(ids.tail).toSeq.toDF("id1", "id2")
    val labels = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == ids.toSet)
    assert(labels.values.toSet == Set("n000"), labels.toString)

    val long = (0 until 4096).map(i => f"c$i%04d")
    val longLabels = PhashDup.clusters(long.zip(long.tail).toSeq.toDF("id1", "id2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(longLabels.keySet == long.toSet)
    assert(longLabels.values.toSet == Set("c0000"),
      longLabels.filter(_._2 != "c0000").take(5).toString)
  }

  test("clusters leave no cached relation behind") {
    val before = CacheProbe.entries(spark)
    val ids = "abcdefg".map(_.toString)
    PhashDup.clusters(ids.zip(ids.tail).toDF("id1", "id2")).collect()
    assert(CacheProbe.entries(spark) <= before)
  }

  test("clusters order numeric ids numerically and keep their type") {
    // one component split over three partitions, so several partial
    // forests meet; string order would pick 10 over 2
    val rdd = spark.sparkContext.parallelize(
      Seq((10L, 11L), (11L, 2L), (12L, 10L), (40L, 41L)), 3)
    val pairs = rdd.toDF("id1", "id2")
    assert(pairs.rdd.getNumPartitions >= 3)
    val clusters = PhashDup.clusters(pairs)
    assert(clusters.schema("cluster_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(2L -> 2L, 10L -> 2L, 11L -> 2L, 12L -> 2L,
      40L -> 40L, 41L -> 40L), labels.toString)
  }

  test("clusters order string ids by UTF-8 bytes, as Spark's min does") {
    // U+FFFF encodes as EF BF BF and U+1F600 as F0 9F 98 80, so Spark
    // (UTF-8 byte order) picks U+FFFF; UTF-16 String.compareTo would
    // pick the surrogate pair
    val emoji = "\uD83D\uDE00"
    val top = "\uFFFF"
    val rdd = spark.sparkContext.parallelize(
      Seq((emoji, top + "a"), (top + "a", top + "b"), (top + "b", top)), 3)
    val pairs = rdd.toDF("id1", "id2")
    assert(pairs.rdd.getNumPartitions >= 3)
    val labels = PhashDup.clusters(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels.keySet == Set(emoji, top, top + "a", top + "b"))
    assert(labels.values.toSet == Set(top), labels.toString)
  }
}

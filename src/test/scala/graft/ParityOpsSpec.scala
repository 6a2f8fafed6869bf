package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.detect.Normalize
import graft.engine.{Scratch, TableIO}
import graft.explain.ClusterExplainer
import graft.ops.{Multimodal, Salting}
import graft.synth.{GenConfig, ImageGen}

/** Remaining SURVEY §2 parity operators: L2 normalization (A6),
  * per-feature conjunctive filter (P5), grid search (M4), RF/GBT rule
  * extraction (M11), salting, PSNR gate, CSV sink (S7). */
class ParityOpsSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("L2 normalization: each column divided by its L2 norm (A6)") {
    val df = Seq((3.0, 0.0), (4.0, 2.0)).toDF("a", "b")
    val out = Normalize.l2(df, Seq("a", "b")).collect()
    val a = out.map(_.getDouble(0)).sorted
    assert(math.abs(a(0) - 0.6) < 1e-12 && math.abs(a(1) - 0.8) < 1e-12)
    // column of norm 2: values /2
    assert(out.map(_.getDouble(1)).max == 1.0)
    // zero-norm column untouched (no NaN)
    val z = Normalize.l2(Seq((0.0, 1.0)).toDF("a", "b"), Seq("a")).head().getDouble(0)
    assert(z == 0.0)
  }

  test("per-feature conjunctive normal filter (P5)") {
    val df = Seq(
      (0.1, 0.1, 0.1), (0.2, 0.1, 0.2), (0.9, 0.1, 0.9), (0.1, 0.9, 0.9))
      .toDF("s1", "s2", "rec")
    val normal = Normalize.normalPerFeature(df, Seq("s1", "s2"), "rec", 0.5).collect()
    // medians: s1=0.15, s2=0.1; normal iff s1<=0.15 && s2<=0.1 && rec<=0.5
    assert(normal.length == 1)
    assert(normal.head.getDouble(0) == 0.1)
  }

  test("grid search elbow picks the true cluster count (M4)") {
    // two tight score clusters: k=2 zeroes the cost, larger k gains <10%
    val rows = (1 to 40).map(i => (f"a$i%02d", 0.0, 0.0)) ++
      (1 to 40).map(i => (f"b$i%02d", 1.0, 1.0))
    val df = rows.toDF("image_id", "s1", "s2")
    val k = ClusterExplainer.bestK(df, Seq("s1", "s2"), Seq(2, 4, 8))
    assert(k == 2, s"picked k=$k")
  }

  test("RF and GBT rule extraction name the discriminating attribute (M11)") {
    val rows = (1 to 100).map(i => (0.02 * (i % 5), 0.01 * (i % 3), 0.0)) ++
      (1 to 100).map(i => (0.9 + 0.002 * (i % 5), 0.01 * (i % 3), 1.0))
    val df = rows.toDF("score_len", "score_symbol", "label")
    val rf = ClusterExplainer.forestRules(df, Seq("score_len", "score_symbol"))
    val gbt = ClusterExplainer.gbtRules(df, Seq("score_len", "score_symbol"))
    assert(rf.nonEmpty && rf.exists(_.contains("score_len")))
    assert(gbt.nonEmpty && gbt.exists(_.contains("score_len")))
  }

  test("salted aggregation equals direct aggregation on the skewed lang mix") {
    val images = PipelineCache.images(spark, 2000L)
    val withLang = images.withColumn("lang",
      org.apache.spark.sql.graft.Exprs.langidBest(col("caption"),
        PipelineCache.models(spark, 2000L).langId))
    val direct = withLang.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedCount(withLang, "lang", "image_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
    // the mix is genuinely skewed (~80% en): salting has a job to do
    assert(direct.values.max.toDouble / direct.values.sum > 0.6)
  }

  test("PSNR gate: bytes pass through the pipeline unmodified (infinite PSNR)") {
    val cfg = GenConfig(n = 30L, withBytes = true)
    val in = ImageGen.images(spark, cfg).select("image_id", "bytes").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    // run the rows through a select/filter pipeline (bytes untouched)
    val out = ImageGen.images(spark, cfg)
      .filter(col("w") > 0).select("image_id", "bytes").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    out.foreach { case (id, bytes) =>
      val p = Multimodal.psnrBytes(in(id), bytes)
      assert(p.isPosInfinity, s"$id psnr=$p")
    }
    // sanity: a genuinely different image scores finite but positive
    val ids = in.keySet.toSeq.sorted
    val p2 = Multimodal.psnrBytes(in(ids.head), in(ids(1)))
    assert(p2 > 0 && !p2.isPosInfinity)
  }

  test("CSV sink writes a single headered file (S7)") {
    val dir = "target/graft-csv-sink"
    Scratch.deleteRecursively(new java.io.File(dir))
    TableIO.writeCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head == "id,v" && lines.size == 3)
  }

  test("approx_count_distinct stays within 5% of exact (A10 sketch path)") {
    val docs = graft.engine.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = docs.select(countDistinct("doc_id")).head().getLong(0)
    val approx = docs.select(approx_count_distinct("doc_id")).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }
}

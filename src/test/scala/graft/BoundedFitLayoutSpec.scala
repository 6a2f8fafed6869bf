package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.explain.{ClusterExplainer, SomClustering}
import graft.ops.Similarity

/** Every bounded fit of the explain layer gives the same output from the
  * same rows laid out in one partition and, shuffled, in seven: the
  * k-means and SOM cluster assignments, the SOM codebook, the grid-search
  * k, the IVF top-k and a single tree's rules. Each `maxFit` is below the
  * row count, so the sample rule decides which rows are fitted, and the
  * score vectors repeat, so equal hashes meet in the sample order. */
class BoundedFitLayoutSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark

  private val names = Seq("s1", "s2", "s3")

  private val scoreRows: Seq[Row] = {
    val rnd = new scala.util.Random(17)
    (0 until 900).map { i =>
      // three fault families with 40 distinct score vectors in all
      val fam = i % 3
      val f = Seq.tabulate(3)(j => if (j == fam) 0.6 + 0.1 * rnd.nextInt(4) else 0.1 * rnd.nextInt(3))
      Row.fromSeq(f"im$i%04d" +: f)
    }
  }

  private val scoreSchema = StructType(StructField("image_id", StringType) +:
    names.map(StructField(_, DoubleType)))

  /** `rows` in one partition, and shuffled into seven. */
  private def layouts(rows: Seq[Row], schema: StructType): Seq[DataFrame] = Seq(
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
    spark.createDataFrame(spark.sparkContext.parallelize(
      new scala.util.Random(3).shuffle(rows), 7), schema))

  private def sameOnBoth[T](rows: Seq[Row], schema: StructType)(out: DataFrame => T): T = {
    val Seq(one, seven) = layouts(rows, schema).map(out)
    assert(one == seven)
    one
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("k-means assignments and the grid-search k") {
    val assigned = sameOnBoth(scoreRows, scoreSchema)(df =>
      sortedRows(ClusterExplainer.clusterFaulty(df, names, k = 3, maxFit = 400)))
    assert(assigned.size == scoreRows.size)
    sameOnBoth(scoreRows, scoreSchema)(df =>
      ClusterExplainer.bestK(df, names, Seq(2, 3, 4, 6), maxFit = 400))
  }

  test("SOM codebook and assignments") {
    sameOnBoth(scoreRows, scoreSchema)(df =>
      SomClustering.fitBounded(df, names, m = 3, n = 3, maxFit = 400).weights.map(_.toSeq).toSeq)
    val assigned = sameOnBoth(scoreRows, scoreSchema)(df =>
      sortedRows(SomClustering.clusterFaulty(df, names, m = 3, n = 3, maxFit = 400)))
    assert(assigned.size == scoreRows.size)
  }

  test("a single tree's rules") {
    // continuous features and a noisy label: every cut of the training
    // set moves the thresholds
    val rnd = new scala.util.Random(29)
    val rows = (0 until 900).map { i =>
      val f = Seq.fill(3)(rnd.nextDouble())
      Row.fromSeq(f"im$i%04d" +: f :+ (if (f(0) + 0.3 * rnd.nextGaussian() > 0.6) 1.0 else 0.0))
    }
    val rules = sameOnBoth(rows, scoreSchema.add("label", DoubleType))(df =>
      ClusterExplainer.treeStructuredRules(df, names, maxFit = 100).map(r => (r.verdict,
        r.conjuncts.map(c => (c.feature, c.op, java.lang.Double.doubleToRawLongBits(c.threshold))))))
    assert(rules.exists(_._1 == "invalid"))
  }

  test("IVF top-k") {
    // unclustered vectors: which neighbours a query finds depends on the
    // coarse quantizer's lists, so on the rows it was fitted on
    val rnd = new scala.util.Random(23)
    val emb = (0L until 600L).map(id => Row(id, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val top = sameOnBoth(emb, schema) { df =>
      val queries = df.filter(df("vec_id") < 8L)
        .select(df("vec_id").as("query_id"), df("embedding").as("qvec"))
      sortedRows(Similarity.ivfTopK(df, queries, 5, nlist = 16, nprobe = 2, maxFit = 200))
    }
    assert(top.size == 8 * 5)
  }
}

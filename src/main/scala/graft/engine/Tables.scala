package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-backed table loaders over the driver test data plus an
  * Iceberg-shaped IO seam (createOrReplace/append semantics over parquet
  * paths — no Iceberg runtime jar ships in this sandbox; the format string
  * is the single point of change when one does).
  *
  * Mirrors reference scans/sinks S1–S7
  * (/root/reference/backendClasses/DQTestToolHelper.py:40,85;
  * /root/reference/DQTestTool.py:93-94).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
}

/** Iceberg-shaped table IO over parquet directories: createOrReplace /
  * append / read, with a `run_id` column standing in for the snapshot id.
  * Replaces the reference's per-dataset SQLite tables
  * (DQTestToolHelper.py:40 `to_sql(if_exists='replace')`, :85 append).
  */
object TableIO {
  def createOrReplace(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Single-file CSV sink (S7: the reference dumps scores.csv,
    * /root/reference/testScript.py:50-52). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // each output dir gets its own fixture root, so a later Verify run
    // into another dir leaves this dir's oracle_sql.json checkable;
    // cleared, so nothing of an earlier run into the same dir remains
    val fixtureRoot = new java.io.File(PipelineQueries.Fixture.DefaultRoot,
      "out-" + java.util.UUID.nameUUIDFromBytes(
        new java.io.File(outDir).getAbsolutePath.getBytes("UTF-8")))
    graft.engine.Scratch.deleteRecursively(fixtureRoot)
    PipelineQueries.Fixture.root = fixtureRoot.getPath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // reap tmpfs scratch leaked by dead JVMs (resident RAM otherwise)
    graft.engine.Scratch.cleanupOrphans(): Unit
    val spark = graft.engine.LocalSession.builder(cpus, "verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated query filter for targeted local runs
    // (unset in the driver → full sweep as before).
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.filter { case (k, _) => s(k) })
    selected.foreach { case (name, fn) =>
      // drop any PRIOR run's output for this query first: a query that
      // fails before its overwrite starts must leave an absent dir (a
      // loud compare error), never a stale-but-green previous result
      graft.engine.Scratch.deleteRecursively(new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

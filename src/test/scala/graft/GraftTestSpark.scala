package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole forked test JVM. */
object GraftTestSpark {
  lazy val spark: SparkSession = {
    val s = graft.engine.LocalSession.builder("4", "tests").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only view of the session's cache manager, whose entry count is
  * `private[sql]`. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}

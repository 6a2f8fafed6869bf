package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only access to the context's listener bus, which is
  * `private[spark]`. */
object ListenerProbe {
  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

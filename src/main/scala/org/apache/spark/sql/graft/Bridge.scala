package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge for the engine's custom
  * expressions. Spark 4 removed the public `new Column(Expression)`
  * constructor; the supported conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]` — hence this one-file shim inside the sql package
  * (same pattern as other Spark-native libraries; see SNIPPETS.md [2][3]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function builder on the session's registry. */
  def register(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/** Bridges `private[sql]` Spark internals for the graft library.
  *
  * Spark 4 wraps `Column` around a `ColumnNode` rather than a Catalyst
  * `Expression`; the sanctioned conversion lives in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is package-private.
  * Hosting this one-file shim under `org.apache.spark.sql` is the standard
  * pattern open-source Spark libraries use to expose native (codegen-capable)
  * expressions as user-facing `Column`s.
  */
object Bridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def col(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression (requires an active session). */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a native expression builder so `spark.sql` text can call it. */
  def register(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }

  /** The session's unique id (package-private in Spark 4). */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}

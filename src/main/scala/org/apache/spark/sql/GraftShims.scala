package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between raw Catalyst [[Expression]]s and the public [[Column]]
  * API. Spark 4 made `new Column(expr)` private (Column now wraps a
  * ColumnNode); `classic.ExpressionUtils` is `private[sql]`, so this
  * one-file shim lives in the `org.apache.spark.sql` package to re-export
  * the two conversions the graft engine needs.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-wrap a DataFrame around its OPTIMIZED logical plan: later
    * actions on the result re-run analysis/optimization over the
    * already-collapsed tree (a fraction of the original node count)
    * instead of the raw Dataset-op chain. `Dataset.ofRows` is
    * `private[sql]`, hence the shim. */
  def ofOptimized(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
    org.apache.spark.sql.classic.Dataset.ofRows(
      cdf.sparkSession, cdf.queryExecution.optimizedPlan)
  }

  /** A copy of `spark` with its own SQL conf, cloned from the current
    * one; `cloneSession` is `private[sql]`. Same SparkContext and shared
    * cache manager, so a frame cached through the copy serves every
    * session that plans the same query. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a DataFrame of `spark`, which then plans
    * and caches it under its own conf. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.DataFrame].logicalPlan)

  /** Register a temp function on a LIVE session (the public
    * `SparkSessionExtensions` route only applies at session build time;
    * `sessionState` is `private[sql]`, hence this shim). */
  def registerTempFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      // "scala_udf" is the closest entry in ExpressionInfo's closed
      // source vocabulary (built-in/hive/*_udf) for an engine-provided
      // function; the builders are codegen'd Catalyst expressions
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}

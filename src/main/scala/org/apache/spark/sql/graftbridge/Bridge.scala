package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column ↔ Expression bridge. Spark 4 made the converters
 * (`classic.ExpressionUtils`) `private[sql]`; this object lives under the
 * `org.apache.spark.sql` package namespace solely to re-export the two
 * conversions needed to expose custom Catalyst expressions as Columns.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a raw Expression builder on an
   * EXISTING session (`sessionState` is also `private[sql]`); new sessions
   * should prefer `spark.sql.extensions=graft.GraftExtensions`. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Build a DataFrame from a raw LogicalPlan (`Dataset.ofRows` is
   * `private[sql]`); needed to surface custom logical operators. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The logical plan behind a DataFrame. */
  def planOf(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /**
   * Re-root a DataFrame as a leaf `LogicalRDD` over its own execution RDD —
   * the same mechanism `Dataset.checkpoint` uses (`LogicalRDD.fromDataset`,
   * `private[sql]`), minus any RDD-level checkpointing. The returned frame's
   * LOGICAL plan is a single leaf (iterative callers stop growing their plan
   * multiplicatively per round), while the underlying RDD keeps full lineage
   * (a lost block of a persisted plan still recomputes). Rows are copied
   * defensively, as checkpoint does, since the RDD may be consumed by
   * buffering operators.
   */
  def truncateLineage(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}

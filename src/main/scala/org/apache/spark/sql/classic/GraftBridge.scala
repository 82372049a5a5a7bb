package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, DataFrame, SparkSession => ApiSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** graft's one accessor for Spark's `private[sql]` hooks, located in
  * Spark's package — the standard extension technique (Delta and Iceberg
  * ship the same kind of bridge). Exactly these cross:
  *
  *  - `Dataset.ofRows`: a resolved [[LogicalPlan]] → [[DataFrame]] (the
  *    UPDATE/MERGE commands, the change feed and the file index re-read
  *    analyzed plans as frames);
  *  - `ExpressionUtils.column` / `expression`: a catalyst [[Expression]]
  *    ↔ [[Column]] (the graft kernels' Column API, the DML clause
  *    conditions, the deletion-bitmap filter);
  *  - `SparkSession.internalCreateDataFrame`: a frame's computed rows
  *    re-wrapped as a batch or streaming frame (the stream sink and
  *    source).
  *
  * Nothing else crosses the boundary; keep it that way.
  */
object GraftBridge {

  def ofRows(spark: ApiSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A new frame over `df`'s computed rows, flagged `isStreaming`. */
  def overRows(df: DataFrame, isStreaming: Boolean): DataFrame =
    df.sparkSession.asInstanceOf[SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming)
}

package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the private[sql] Column <-> Expression converters — the
  * standard pattern for libraries that ship custom Catalyst expressions
  * against Spark 4's ColumnNode API. */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-computed RDD[InternalRow] with a known
    * schema — the reverse of `queryExecution.toRdd`. Its one caller is
    * `graft.operators.LoopCheckpoint.Truncator.materialize`, which cuts a
    * loop generation and reads its counts from the SAME action
    * (rdd.localCheckpoint() + rdd.count()), then keeps planning against
    * the result relationally. Rows must be safe to retain (copy unsafe
    * rows before caching). */
  def ofInternalRows(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Re-bind an (already analyzed) logical plan to another session —
    * e.g. registering a drained memory-sink table in the parent session
    * without collecting its rows to external `Row`s and re-encoding
    * them (the sink's rows are driver-resident either way; this skips
    * the O(rows) copy + re-encode that `collectAsList` +
    * `createDataFrame` would pay). */
  def ofLogical(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}

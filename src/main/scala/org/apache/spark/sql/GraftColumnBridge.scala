package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters so the
  * engine's custom Catalyst expressions (graft.functions) can expose a
  * public Column API. Lives in org.apache.spark.sql purely for access;
  * contains no logic. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[expression]] materialized: the default bridge wraps the
    * Column's node LAZILY (`ColumnNodeExpression`), which hides the
    * tree from `transform`/`collect` — callers that inspect or rewrite
    * the expression (e.g. DML condition guards) need the converted
    * Catalyst tree. */
  def catalystExpression(c: Column): Expression =
    classic.GraftClassicBridge.materialize(ExpressionUtils.expression(c))

  /** `private[spark]` `StructType.asNullable`: every field, array
    * element and map value nullable, recursively — the schema a parquet
    * footer read-back reports for a written frame. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** DataFrame over an analyzed logical plan (`Dataset.ofRows` is
    * `private[sql]`) — how a runnable command re-materializes a plan
    * it carried as data (e.g. a MERGE source). */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** `private[sql]` access for the bench harness's between-query
    * streaming-state reap (GraftBenchInternals.cleanStreamingState):
    * close and unregister every loaded state-store provider. The next
    * streaming query reloads its state from checkpoint as usual. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Re-expose a V1 streaming sink's per-batch frame as a BATCH frame
    * (what `ForeachBatchSink` does internally): the frame `addBatch`
    * receives carries the streaming flag, so batch writers refuse it
    * and any fresh action re-trips the unsupported-operations check.
    * Wrapping the SAME physical rows (`queryExecution.toRdd`) with
    * `isStreaming = false` hands the sink an ordinary DataFrame —
    * one extra pipelined pass, no extra shuffle. */
  def asBatchDataFrame(df: Dataset[Row]): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** The inverse, for a V1 streaming SOURCE's `getBatch`: the engine
    * requires the returned frame to carry the streaming flag (it is
    * spliced into the micro-batch plan), but the natural way to build
    * the batch contents is ordinary batch reads. Same physical rows,
    * re-flagged — the pattern Spark's own FileStreamSource uses. */
  def asStreamingDataFrame(df: Dataset[Row]): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }
}

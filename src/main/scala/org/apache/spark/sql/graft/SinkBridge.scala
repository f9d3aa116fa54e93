package org.apache.spark.sql.graft

import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, Dataset, Row}

/** The first `private[sql]` bridge this library uses (the others are
  * [[GraftNamedTable]] and [[GraftFileIndex]]), isolated in its
  * own package object under `org.apache.spark.sql` — the public
  * pattern every production Spark sink that needs it follows (Delta
  * Lake's whole codebase lives in `org.apache.spark.sql.delta` for
  * exactly this reason; Spark's own `ForeachBatchSink` is the
  * in-tree original of the function below).
  *
  * WHY a bridge is needed at all: the `DataFrame` a V1 streaming
  * [[org.apache.spark.sql.execution.streaming.Sink]] receives in
  * `addBatch` is backed by the micro-batch's `IncrementalExecution`.
  * Applying ordinary transformations to it would RE-PLAN its logical
  * plan under the batch planner — double-executing the batch and
  * breaking any stateful operator planned incrementally. The correct
  * move (what `ForeachBatchSink` does before invoking the user's
  * function) is to take the ALREADY-PLANNED physical pipeline via
  * `queryExecution.toRdd` and wrap it as a batch [[LogicalRDD]]: the
  * incremental plan executes exactly once, lazily, when the sink's
  * own batch plan (here: the upsert merge) first pulls rows — zero
  * row-format conversions, no driver materialization.
  */
object SinkBridge {

  /** Re-expose a micro-batch `DataFrame` (IncrementalExecution-backed)
    * as a plain batch `DataFrame` over the same physical pipeline —
    * the `ForeachBatchSink` bridge, verbatim in shape. */
  def microBatchAsBatch(data: Dataset[Row]): DataFrame = {
    val ds = data.asInstanceOf[classic.Dataset[Row]]
    val plan = LogicalRDD.fromDataset(
      rdd = ds.queryExecution.toRdd,
      originDataset = ds,
      isStreaming = false)
    classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}

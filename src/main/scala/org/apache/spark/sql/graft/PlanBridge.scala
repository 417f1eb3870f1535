package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Bridge to `classic.Dataset.ofRows` (`private[sql]`) — turns a custom
  * [[LogicalPlan]] node into a public `DataFrame`, the same shim technique
  * as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `df`'s rows, computed by the first action over the result and kept at
    * row level (`MEMORY_AND_DISK`); later actions read the stored rows
    * instead of re-running `df`'s plan. Unlike `localCheckpoint` the lineage
    * stays, so a lost block is recomputed. Unlike `Dataset.persist` no
    * columnar cache is built, and filters over the result cannot be pushed
    * into `df`'s plan. The caller unpersists the returned RDD. */
  def persistRows(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rows = ds.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    (classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming)), rows)
  }
}

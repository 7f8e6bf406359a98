package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Narrow access bridge to two `private[spark]` entry points:
  *   - `classic.Dataset.ofRows`: a custom logical operator
  *     (graft.plans.AsOfJoinPlan) turns a resolved LogicalPlan into a
  *     DataFrame;
  *   - `SparkContext.unpersistRDD`: frees a locally checkpointed RDD's
  *     blocks without `RDD.unpersist`'s warning that its truncated
  *     lineage cannot be recomputed (graft.operators.TextOps
  *     .unpersistCheckpoint releases only frames it abandons).
  * Everything else in the extension uses public APIs. Scoped to its own
  * subpackage so nothing else reaches into spark internals.
  */
object GraftDatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}

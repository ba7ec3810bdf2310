/** Bridge into Spark's package-private members.
  *
  * Spark 4 moved the classic Column's expression plumbing behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`). Custom
  * Catalyst expressions still need to surface as `Column`s; the supported
  * pattern for libraries is a one-file bridge declared inside the
  * `org.apache.spark.sql` package. The run loop ([[graft.Run]]) also
  * needs the `private[spark]` listener bus, to wait until every posted
  * event has reached the listeners, and [[GraftMaterialize]] builds a
  * checkpointed leaf with measured statistics through `private[sql]`
  * `Dataset.ofRows`. Nothing else in this repo lives outside the `graft`
  * namespace.
  */
package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{PartitioningCollection, SinglePartition}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

object GraftListenerBus {
  /** Blocks until every posted event has reached every listener (10 s at most). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

object GraftMaterialize {
  /** The engine's one way to make an intermediate frame concrete: `df` is
    * computed once and stored as a local checkpoint (executor blocks, no
    * lineage, nothing pinned in the CacheManager), and the frame returned
    * reads those blocks through a fresh leaf plan.
    *
    * It runs what `Dataset.localCheckpoint(eager = true)` runs (AQE's
    * stages below the result, then one job over the result). The job is
    * `RDD.count`, so the row count comes with it. The leaf keeps the
    * output partitioning and ordering of the plan that produced its
    * blocks: AQE's final plan, whose partitioning says how any coalesced
    * shuffle read grouped the hash buckets (`localCheckpoint` reads them
    * off the adaptive wrapper, which reports none), so an aggregate or
    * join on the same keys above the frame plans no second exchange. A
    * frame stored as one partition reports `SinglePartition` instead,
    * which satisfies every distribution and names no attribute: Spark
    * canonicalizes a scan's partitioning and ordering without
    * normalizing their attribute ids, so two copies of a subtree over the
    * frame (a self-join's sides) would otherwise never share an exchange.
    * The leaf reports that count and `rows × the output schema's default
    * row width` bytes (1 for an empty frame), so every planner decision
    * above it reads a size that is measured and fixed when the frame is
    * created, never the origin plan's estimate and never a block size that
    * depends on timing. Both sides of a self-join carry the statistics. */
  def materialize(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows = rdd.count()
      val produced = qe.executedPlan match {
        case adaptive: AdaptiveSparkPlanExec => adaptive.finalPhysicalPlan
        case plan => plan
      }
      val (partitioning, ordering) =
        if (rdd.getNumPartitions == 1) (SinglePartition, Nil)
        else (produced.outputPartitioning match {
          case all: PartitioningCollection => all.partitionings.head
          case one => one
        }, produced.outputOrdering)
      val leaf = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      val stats = Statistics(EstimationUtils.getOutputSize(leaf.output, rows), Some(rows))
      classic.Dataset.ofRows(ds.sparkSession,
        leaf.copy(outputPartitioning = partitioning, outputOrdering = ordering)(
          ds.sparkSession, Some(stats), Some(leaf.constraints)))
    }
  }

  /** The row count [[materialize]] measured for the frame it returned. */
  def rowCount(df: DataFrame): Long = df.queryExecution.logical match {
    case leaf: LogicalRDD if leaf.stats.rowCount.isDefined => leaf.stats.rowCount.get.toLong
    case other => throw new IllegalArgumentException(s"not a materialized frame: ${other.nodeName}")
  }
}

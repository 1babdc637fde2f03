package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.util.AccumulatorV2
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset, SparkSession => CSparkSession}

/** Bridge into the `private[sql]` Dataset constructor so graft can build a
  * DataFrame from a custom LogicalPlan ([[graft.plans.AsOfJoinNode]]).
  * Standard extension-library technique: Spark offers no public API to wrap
  * a LogicalPlan, yet every planner-extension hook hands plans around. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A SQL metric whose task values merge by maximum, not sum (a peak).
    * Registration is `private[spark]`, hence its home here. */
  def maxMetric(sc: SparkContext, name: String): SQLMetric = {
    val m = new MaxMetric
    m.register(sc, name = Some(name), countFailedValues = false)
    m
  }

  private final class MaxMetric extends SQLMetric("sum", 0L) {
    override def copy(): MaxMetric = {
      val m = new MaxMetric
      m.set(value)
      m
    }
    override def merge(other: AccumulatorV2[Long, Long]): Unit =
      if (other.value > value) set(other.value)
  }
}

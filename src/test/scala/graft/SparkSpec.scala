package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.ClassTag

/** Shared local SparkSession for specs (one per suite, lazily created). */
trait SparkSpec { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def ts(hhmm: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"2021-08-21 $hhmm:00")

  /** Every node of a physical plan, looking through adaptive execution:
    * the adaptive root's current plan (the initial plan before the query
    * runs, the final one after), query stages, and reused exchanges (their
    * original). `SparkPlan.collect` stops at all three. */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case p => p +: p.children.flatMap(planNodes)
  }

  /** The nodes of type `T` in `df`'s physical plan ([[planNodes]]). */
  def nodesOf[T <: SparkPlan: ClassTag](df: DataFrame): Seq[T] =
    planNodes(df.queryExecution.executedPlan).collect { case t: T => t }
}

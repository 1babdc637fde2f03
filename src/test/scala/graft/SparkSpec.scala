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

  /** Runs `body` with the given session confs set, then puts each key back
    * as it was: its prior value, or unset if it had none. The session is
    * shared by every suite in the JVM, so a pin left behind would change
    * what later suites run under. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

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

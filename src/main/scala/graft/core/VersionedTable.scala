package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A keyed table where each key has a timeline of values: one row per
  * (key, changeTime) holding the value that became current at that instant.
  * This is the engine's representation of the reference's "versioned table"
  * (App.java:146-148: "versioned row exposes the most recent row for each
  * key"), and the right-hand side of [[graft.ops.AsOfJoin.asofMerge]].
  *
  * Unlike the reference — which materializes versions from a changelog stream
  * and stamps them with the *current watermark* (AddWatermark.java:18-23, a
  * temporal-leakage hazard the author flags at App.java:150-157) — versions
  * here are computed directly from event time with cumulative window
  * aggregates, so `asOf(k, t)` is exact by construction.
  *
  * Scale: building version rows is one shuffle on `keyCol` plus a per-key
  * sort; the RANGE frame makes tied timestamps deterministic (every row at
  * the same (key, time) sees the identical cumulative value), after which
  * duplicates collapse to one version row per change instant. The window
  * partitions on `_entity`, so the dedup and an as-of merge on `_entity`
  * reuse its exchange.
  */
final case class VersionedTable(
    df: DataFrame,
    keyCol: String,
    timeCol: String,
    valueCols: Seq[String])

object VersionedTable {

  /** Build version rows from an event table by cumulative aggregation:
    * for each event at (key, t), the version value is `agg` over all events
    * of that key with time <= t. This is the batch-exact equivalent of the
    * reference's continuous `GROUP BY` feeding a changelog (App.java:47,52 →
    * 158-193). Aggregates are `(expression, outputName)` pairs, e.g.
    * `(sum(col("duration")), "loss_duration")`.
    */
  def fromEvents(
      events: EventTable,
      key: String,
      aggs: (Column, String)*): VersionedTable = {
    val time = events.timeCol
    // Default window frame with an ORDER BY is RANGE UNBOUNDED PRECEDING ..
    // CURRENT ROW: all rows with the same (key, time) get the same cumulative
    // value (deterministic under ties), and inclusivity of the current
    // instant matches the reference's as-of semantics (SURVEY §2.5).
    // The window partitions on `_entity` itself, not on `key` aliased next
    // to it (an alias below the exchange hides its partitioning), so the
    // dedup and an as-of merge on `_entity` reuse the window's exchange.
    val w = Window.partitionBy(col("_entity")).orderBy(col("_change_time"))
    val cols =
      Seq(col("_entity"), col("_change_time")) ++
        aggs.map { case (expr, name) => expr.over(w).as(name) }
    val versions = events.df
      .withColumn("_entity", col(key))
      .withColumn("_change_time", col(time))
      .select(cols: _*)
      .dropDuplicates("_entity", "_change_time")
    VersionedTable(versions, "_entity", "_change_time", aggs.map(_._2))
  }
}

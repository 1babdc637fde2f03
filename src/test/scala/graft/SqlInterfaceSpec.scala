package graft

import graft.api.Graft
import graft.core.EventTable
import graft.ops.Examples
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference drives everything through SQL strings (App.java:47-77,
  * 200-233). Our engine's SQL-expressible operators run identically through
  * spark.sql over registered temp views (S2) — the same ANSI text the
  * DuckDB oracle executes. */
class SqlInterfaceSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("example generation via spark.sql matches the DataFrame operator") {
    val events = EventTable(Tables.events(spark, sfDir), "ts", Some("user_id"))
    events.createOrReplaceTempView("events")

    val viaSql = spark.sql("""
      SELECT user_id AS _entity, ts AS _prediction_time,
             ts + INTERVAL 1 HOUR AS _label_time
      FROM (SELECT user_id, ts,
                   count(CASE WHEN event_type = 'error' THEN 1 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS streak
            FROM events)
      WHERE streak = 2""")

    val viaApi = Examples.generate(
      events,
      windowAgg = count(when(col("event_type") === "error", lit(1))),
      lookback = 1,
      trigger = _ === 2,
      labelDelay = "INTERVAL 1 HOUR",
      orderCols = Seq("event_id"))

    assert(viaSql.collect().map(_.toSeq).toSet === viaApi.collect().map(_.toSeq).toSet)
    assert(viaApi.count() === 36)
  }

  test("flagship oracle SQL (minus DuckDB-only functions) runs on spark.sql") {
    val events = EventTable(Tables.events(spark, sfDir), "ts", Some("user_id"))
    events.createOrReplaceTempView("events")
    // the exact oracle text for q_flagship is ANSI enough for Spark SQL
    val sql = graft.queries.Registry.oracles("q_flagship")
    val viaSql = spark.sql(sql)
    // the same pipeline through the public API (App.java:47-77, 200-233)
    val g = Graft(spark)
    val errCents = g.versionedWhere(events, "event_type = 'error'",
      "sum(cast(round(value * 100) as bigint))" -> "err_cents")
    val purchases = g.versionedWhere(events, "event_type = 'purchase'", "count(1)" -> "purchases")
    val ex = g.examples(events, "count(case when event_type = 'error' then 1 end)",
      lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR", orderCols = Seq("event_id"))
    val viaApi = g.pointInTimeJoin(
      g.pointInTimeJoin(ex, "_prediction_time", errCents), "_label_time", purchases)
    assert(viaSql.collect().map(_.toSeq).toSet === viaApi.collect().map(_.toSeq).toSet)
  }
}

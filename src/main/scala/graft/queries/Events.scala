package graft.queries

import graft.core.EventTable
import graft.ops.Examples
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own surface re-targeted at the driver's `events` table:
  * OVER-window example generation (A3/P3/P5), versioned tables (A1/A2),
  * the two as-of joins on two time axes (J1/J2, T5), plus event-stream
  * extensions (tumbling windows, sessionization, JSON props). */
object Events {

  /** Shared oracle CTE: example rows = second consecutive error event per
    * user (the reference's "defeat_count = 2" OVER-window, App.java:64-77). */
  private val examplesSql = """
    SELECT user_id AS _entity, ts AS _prediction_time,
           ts + INTERVAL 1 HOUR AS _label_time
    FROM (SELECT user_id, ts,
                 count(CASE WHEN event_type = 'error' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS streak
          FROM events)
    WHERE streak = 2"""

  /** Shared oracle CTE chain for the funnel queries: the cascaded
    * running-max windows (view -> click -> purchase, 12h per step). */
  private val funnelCascadeSql = """
        w0 AS (SELECT user_id, ts, event_id, event_type,
                 max(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS q0
               FROM events),
        w1 AS (SELECT *,
                 event_type = 'click' AND q0 IS NOT NULL
                   AND ts <= q0 + INTERVAL 12 HOUR AS qual_1
               FROM w0),
        w2 AS (SELECT *, max(CASE WHEN qual_1 THEN ts END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS q1
               FROM w1),
        w3 AS (SELECT *,
                 event_type = 'purchase' AND q1 IS NOT NULL
                   AND ts <= q1 + INTERVAL 12 HOUR AS qual_2
               FROM w2)"""

  private def eventTable(s: SparkSession, dir: String): EventTable =
    EventTable(Tables.events(s, dir), "ts", Some("user_id"))

  private def examples(s: SparkSession, dir: String): DataFrame =
    Examples.generate(
      eventTable(s, dir),
      windowAgg = count(when(col("event_type") === "error", lit(1))),
      lookback = 1,
      trigger = _ === 2,
      labelDelay = "INTERVAL 1 HOUR",
      orderCols = Seq("event_id"))

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q_examples", Some(examplesSql), (s, dir) => examples(s, dir)),

    QueryDef(
      "q_flagship",
      Some(s"""
        WITH ex AS ($examplesSql)
        SELECT _entity, _prediction_time, _label_time,
          (SELECT CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) FROM events e
            WHERE e.user_id = ex._entity AND e.event_type = 'error'
              AND e.ts <= ex._prediction_time) AS err_cents,
          (SELECT CAST(sum(1) AS BIGINT) FROM events p
            WHERE p.user_id = ex._entity AND p.event_type = 'purchase'
              AND p.ts <= ex._label_time) AS purchases
        FROM ex"""),
      // the reference pipeline through the public API, exactly as a user
      // writes it; the chain plans as one sorted pass per user
      // (graft.plans.PointInTimePass: one scan, exchange and sort — PlanSpec)
      (s, dir) => {
        val g = graft.api.Graft(s)
        val ev = eventTable(s, dir)
        val errCents = g.versionedWhere(ev, "event_type = 'error'",
          "sum(cast(round(value * 100) as bigint))" -> "err_cents")
        val purchases = g.versionedWhere(ev, "event_type = 'purchase'", "count(1)" -> "purchases")
        val ex = g.examples(ev,
          windowAgg = "count(case when event_type = 'error' then 1 end)",
          lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR",
          orderCols = Seq("event_id"))
        g.pointInTimeJoin(
          g.pointInTimeJoin(ex, "_prediction_time", errCents), "_label_time", purchases)
      }),

    // ---- STREAMING flagship through the correctness gate -----------------
    // The whole reference pipeline as a REAL streaming query
    // (flatMapGroupsWithState per-user state, event-time timeout for label
    // maturation): append mode emits exactly the examples whose label time
    // the watermark has passed, which the oracle reproduces by filtering
    // the batch flagship to matured label times.
    QueryDef(
      "q_stream_flagship",
      Some(s"""
        WITH ex AS ($examplesSql)
        SELECT _entity, _prediction_time, _label_time,
          (SELECT CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) FROM events e
            WHERE e.user_id = ex._entity AND e.event_type = 'error'
              AND e.ts <= ex._prediction_time) AS err_cents,
          (SELECT CAST(sum(1) AS BIGINT) FROM events p
            WHERE p.user_id = ex._entity AND p.event_type = 'purchase'
              AND p.ts <= ex._label_time) AS purchases
        FROM ex
        WHERE _label_time <= (SELECT max(ts) FROM events)"""),
      (s, dir) => {
        val stream = Tables.eventsStream(s, dir)
        val out = graft.streaming.StreamingFlagship(stream)
        graft.streaming.StreamingOps.runToParquet(out.toDF(), "flagship",
          statePartitions = Some(graft.streaming.StreamingOps
            .boundedStatePartitions(s, s"$dir/events.parquet")))
      }),

    // ---- changelog with retractions, replayed to state -------------------
    // The reference's toChangelogStream (App.java:83) as a REAL streaming
    // query: per-user error-cents aggregation drained through the
    // +I/-U/+U changelog view, then FOLDED BACK into dynamic-table state
    // (latest non-retraction per key). Replay is batching-invariant, so the
    // oracle is simply the batch aggregation; the op-sequence semantics
    // themselves are pinned under forced multi-batch execution in
    // StreamingChangelogSpec.
    QueryDef(
      "q_stream_changelog",
      Some("""
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS err_cents
        FROM events WHERE event_type = 'error' GROUP BY user_id"""),
      (s, dir) => {
        val stream = Tables.eventsStream(s, dir)
          .where(col("event_type") === "error")
        val cl = graft.streaming.StreamingOps.changelog(
          stream, "ts", "0 seconds", Seq("user_id"),
          Seq(sum(expr("cast(round(value * 100) as bigint)")).as("err_cents")),
          statePartitions = Some(graft.streaming.StreamingOps
            .boundedStatePartitions(s, s"$dir/events.parquet")))
        graft.streaming.StreamingOps.replayChangelog(cl, Seq("user_id"))
      }),

    // ---- semi-structured props (JSON-in-string) --------------------------
    QueryDef(
      "q_json",
      Some("""
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50"""),
      // json_tuple (a Generator) parses props exactly ONCE per row: a
      // filter on generator output is applied after the Generate, not
      // pushed through it, whereas the get_json_object/from_json forms
      // let predicate pushdown duplicate the parse into the filter
      // (measured by tools/JsonProbe at sf0.1: parse cost over the bare
      // scan 0.18 s one-pass vs 0.32 s duplicated — ~30%% off the query)
      (s, dir) => Tables.events(s, dir)
        .selectExpr("event_id", "event_type", "json_tuple(props, 'k') AS k")
        .withColumn("k", col("k").cast("int"))
        .where(col("k") > 50)
        .select("event_id", "event_type", "k")),

    // ---- tumbling window aggregation -------------------------------------
    QueryDef(
      "q_hourly",
      Some("""
        SELECT date_trunc('hour', ts) AS hour_start, event_type,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1, 2"""),
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(round(value * 100) as bigint)")).as("value_cents"))
        .select(
          col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("value_cents"))),

    // ---- STREAMING tumbling windows through the correctness gate ---------
    // Executes as a real Structured Streaming query (file source,
    // AvailableNow); append mode emits exactly the windows the watermark
    // has finalized, which the oracle reproduces with a HAVING filter.
    QueryDef(
      "q_stream_hourly",
      Some("""
        SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)"""),
      (s, dir) => {
        val stream = Tables.eventsStream(s, dir)
        val agg = graft.streaming.StreamingOps.tumbling(
          stream, "ts", "0 seconds", "1 hour",
          Seq("event_type"), Seq(count(lit(1)).as("n")))
          .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
        graft.streaming.StreamingOps.runToParquet(agg, "hourly",
          statePartitions = Some(graft.streaming.StreamingOps
            .boundedStatePartitions(s, s"$dir/events.parquet")))
      }),

    // ---- conversion funnel (view -> click -> purchase, 12h per step) ------
    // Event-sequence pattern detection via cascaded running-max windows
    // (ops.EventPatterns.funnelCounts): one exchange on user_id, no
    // self-join. Greedy last-touch attribution; the oracle replays the
    // cascade window-for-window.
    QueryDef(
      "q_funnel",
      Some(s"""
        WITH $funnelCascadeSql
        SELECT user_id,
          CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT)
            AS n_views,
          CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
            AS n_clicks,
          CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
            AS BIGINT) AS n_purchases,
          CAST(count(CASE WHEN qual_1 THEN 1 END) AS BIGINT)
            AS n_qual_clicks,
          CAST(count(CASE WHEN qual_2 THEN 1 END) AS BIGINT)
            AS n_conversions
        FROM w3 GROUP BY user_id"""),
      (s, dir) => graft.ops.EventPatterns.funnelCounts(
          Tables.events(s, dir), Seq("view", "click", "purchase"),
          within = "12 HOURS")
        .select(
          col("user_id"),
          col("n_step_0").as("n_views"),
          col("n_step_1").as("n_clicks"),
          col("n_step_2").as("n_purchases"),
          col("n_qual_1").as("n_qual_clicks"),
          col("n_qual_2").as("n_conversions"))),

    // ---- streaming funnel: per-conversion rows, watermark-ordered --------
    // The cascade is order-sensitive, so arrivals buffer per user and the
    // watermark-covered prefix replays in (ts, event_id) order through
    // k latest-qualifying-time longs (StreamingFunnel). One row per
    // completed funnel; the oracle is the batch cascade restricted to
    // purchases whose ceil-ms drain timer the final watermark covers
    // (ceil(us/1000) <= max_us // 1000 == exactly the drain condition
    // us <= wm_ms * 1000).
    QueryDef(
      "q_stream_funnel",
      Some(s"""
        WITH $funnelCascadeSql
        SELECT user_id, event_id,
               CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ts_us
        FROM w3
        WHERE qual_2
          AND (epoch_us(CAST(ts AS TIMESTAMP)) + 999) // 1000
                <= (SELECT epoch_us(CAST(max(ts) AS TIMESTAMP)) // 1000
                    FROM events)"""),
      (s, dir) => {
        Tables.prepare(s)
        // transformWithState requires the RocksDB provider (multiple
        // column families); restored after the bounded run completes
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(provKey)
        s.conf.set(provKey, "org.apache.spark.sql.execution.streaming" +
          ".state.RocksDBStateStoreProvider")
        try {
          val stream = Tables.eventsStream(s, dir)
          val out = graft.streaming.StreamingFunnel(
            stream, Seq("view", "click", "purchase"), within = "12 HOURS")
          graft.streaming.StreamingOps.runToParquet(
            out.toDF(), "stream_funnel",
            // replay-CPU-bound state: 1 MB/partition (see the sizing
            // scaladoc) so the cascade sort keeps its parallelism at 10x
            statePartitions = Some(graft.streaming.StreamingOps
              .boundedStatePartitions(s, 1L * 1024 * 1024,
                s"$dir/events.parquet")))
        } finally {
          prev match {
            case Some(v) => s.conf.set(provKey, v)
            case None => s.conf.unset(provKey)
          }
        }
      }),

    // ---- sessionization (30-minute inactivity gap) -----------------------
    QueryDef(
      "q_sessions",
      Some("""
        WITH d AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM d)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, sid"""),
      (s, dir) => Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events")))
  )
}

package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Third-wave coverage: time-range join, exact statistical aggregates, and
  * streaming sessionization through the correctness gate.
  *
  * Parity notes: all variance/correlation math is derived from EXACT
  * integer sums (cents / hour-of-day), so the only floating-point ops are
  * the final divisions/sqrts, written with identical operand order on both
  * sides. Intermediate products stay < 2^63 through sf0.1; at larger SFs
  * the sums would need DECIMAL(38) on the Spark side (DuckDB already
  * accumulates in HUGEINT).
  */
object Advanced {

  /** Distributed exact interpolated median of `value` per `event_type` —
    * the two-pass count+select replacement for `percentile(value, 0.5)`
    * used by q_approx_agg (see the QueryDef comment there). Factored out
    * so ApproxAggSpec pins it value-for-value against the in-buffer
    * Percentile aggregate it replaced. Output: (event_type,
    * exact_median); event_types whose values are all null emit no row
    * (the caller left-joins). */
  private[graft] def exactMedianByType(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Percentile ignores null inputs; the window must too
    val vc = ev.where(col("value").isNotNull)
      .groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
    val marked = vc
      .withColumn("cum",
        sum(col("cnt")).over(
          Window.partitionBy("event_type").orderBy("value")))
      .withColumn("tot",
        sum(col("cnt")).over(Window.partitionBy("event_type")))
      .withColumn("pos", lit(0.5) * (col("tot") - lit(1)).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
      // keep only the row(s) whose [cum-cnt, cum) index range covers
      // the lo or hi order statistic — at most two per event_type
      .where(col("cum") > col("lo") && col("cum") - col("cnt") <= col("hi"))
    marked.groupBy("event_type")
      .agg(
        max(when(col("cum") - col("cnt") <= col("lo") &&
          col("lo") < col("cum"), col("value"))).as("vlo"),
        max(when(col("cum") - col("cnt") <= col("hi") &&
          col("hi") < col("cum"), col("value"))).as("vhi"),
        max(col("pos")).as("pos"),
        max(col("lo")).as("lo"), max(col("hi")).as("hi"))
      .select(col("event_type"),
        when(col("hi") === col("lo"), col("vlo"))
          .when(col("vhi") === col("vlo"), col("vlo"))
          .otherwise(
            (col("hi").cast("double") - col("pos")) * col("vlo") +
              (col("pos") - col("lo").cast("double")) * col("vhi"))
          .as("exact_median"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- equi + time-range join ------------------------------------------
    // Attribution shape: for every purchase, the same user's error events
    // in the preceding hour. Catalyst plans the equality on user_id as the
    // join key (one shuffle each side) with the range as a join residual —
    // the scalable form of an interval join when a key exists. (Keyless
    // interval joins would bucketize time into band keys first.)
    QueryDef(
      "q_range_join",
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
               count(e.ts) AS n_errors,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS err_cents
        FROM events p LEFT JOIN events e
          ON e.user_id = p.user_id AND e.event_type = 'error'
         AND e.ts > p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
        WHERE p.event_type = 'purchase'
        GROUP BY 1, 2, 3"""),
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val p = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("purchase_ts"))
        val e = ev.where(col("event_type") === "error")
          .select(col("user_id").as("__u"), col("ts").as("ets"),
            expr("cast(round(value * 100) as bigint)").as("cents"))
        p.join(e,
            col("user_id") === col("__u") &&
              col("ets") > col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
              col("ets") <= col("purchase_ts"),
            "left")
          .groupBy("purchase_id", "user_id", "purchase_ts")
          .agg(
            count(col("ets")).as("n_errors"),
            sum(col("cents")).cast("bigint").as("err_cents"))
      }),

    // ---- approximate aggregates (the 100 TB cardinality tools) -----------
    // HLL++ count-distinct and quantile sketches are how cardinality and
    // distribution questions get answered over billions of rows without an
    // exact shuffle-the-world pass. Sketch internals are engine-specific
    // (Spark HLL++ != DuckDB HLL), so the sketch VALUES can't cross the
    // hash oracle — instead the query emits the exact answers (fully
    // SQL-reproducible, so the oracle checks the exact kernels) plus
    // self-validating error-bound booleans: rsd=0.02 HLL must land within
    // 10% of the exact distinct count (3-sigma is 6%) and the 10k-accuracy
    // quantile sketch within 5% of the exact interpolated median (the
    // corpus median sits ~35, far from the relative-tolerance singularity
    // at 0). A sketch regression flips a boolean and fails the gate.
    QueryDef(
      "q_approx_agg",
      Some("""
        SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
               true AS approx_users_ok, true AS approx_median_ok
        FROM events GROUP BY event_type"""),
      // The exact median is DISTRIBUTED (r22): the previous
      // `percentile(value, 0.5)` aggregate carried every value in its
      // partial buffers and merged them in ONE task per event_type (the
      // dominant 2.1 s job at sf0.1, and an OOM shape at 100 TB — a
      // type's whole value multiset in a single aggregation buffer).
      // Restructured as the two-pass count+select: (event_type, value)
      // counts reduce fully in parallel, a cumulative-count window over
      // the DISTINCT values (bounded — the generator rounds values, and
      // duplicates collapse regardless of corpus size) selects the two
      // order statistics flanking position p*(n-1), and the final value
      // replays Percentile's exact interpolation
      // (hi-pos)*v_lo + (pos-lo)*v_hi, including its hi==lo and
      // v_hi==v_lo short-circuits — verified value-equal to the old
      // aggregate on every SF (ApproxAggSpec) and hash-equal under the
      // oracle. (The r21 negative result — spreading the scan ahead of
      // the old exact-percentile aggregate, +53% at x10 — was about
      // THOSE all-values buffers; this restructure removes them instead
      // of re-partitioning them.)
      (s, dir) => {
        // spread is safe again now that the all-values exact-percentile
        // buffers are gone (see the r21 note above): the remaining
        // partial buffers (count / HLL / KLL-sketch) are bounded, so
        // lifting the single-row-group local scan to core parallelism
        // parallelizes the per-(type,user) sketch building; no-op on
        // multi-split real inputs
        val ev = graft.ext.Dedup.spread(Tables.events(s, dir))
        val base = ev
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
            percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_median"))
        // left join: an event_type whose values are ALL null has no medv
        // row, and must still emit its output row (with a null boolean,
        // exactly as the old all-null percentile did)
        base.join(exactMedianByType(ev), Seq("event_type"), "left")
          .select(col("event_type"), col("n"), col("n_users"),
            (abs(col("approx_users") - col("n_users"))
              <= lit(0.1) * col("n_users")).as("approx_users_ok"),
            (abs(col("approx_median") - col("exact_median"))
              <= lit(0.05) * abs(col("exact_median"))).as("approx_median_ok"))
      }),

    // ---- exact statistical aggregates ------------------------------------
    // Median (exact interpolated percentile), sample variance, and the
    // value/hour-of-day correlation — all reconstructed from exact integer
    // sums so both engines do the identical final FP ops.
    QueryDef(
      "q_stats",
      Some("""
        WITH a AS (SELECT event_type, user_id,
                          CAST(round(value * 100) AS BIGINT) AS c,
                          CAST(hour(ts) AS BIGINT) AS h
                   FROM events),
        g AS (SELECT event_type, count(*) AS n,
                     count(DISTINCT user_id) AS n_users,
                     CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c*c) AS BIGINT) AS sc2,
                     CAST(sum(h) AS BIGINT) AS sh, CAST(sum(h*h) AS BIGINT) AS sh2,
                     CAST(sum(c*h) AS BIGINT) AS sch
              FROM a GROUP BY event_type),
        m AS (SELECT event_type, quantile_cont("value", 0.5) AS med FROM events GROUP BY event_type)
        SELECT g.event_type, g.n, g.n_users,
               round(m.med, 6) AS median_value,
               round(CAST(g.n*g.sc2 - g.sc*g.sc AS DOUBLE) / (g.n*(g.n-1)) / 10000.0, 6) AS var_value,
               round(CAST(g.n*g.sch - g.sc*g.sh AS DOUBLE)
                 / (sqrt(CAST(g.n*g.sc2 - g.sc*g.sc AS DOUBLE)) * sqrt(CAST(g.n*g.sh2 - g.sh*g.sh AS DOUBLE))), 6)
                 AS corr_value_hour
        FROM g JOIN m ON m.event_type = g.event_type"""),
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("value"),
          expr("cast(round(value * 100) as bigint)").as("c"),
          hour(col("ts")).cast("bigint").as("h"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          expr("percentile(value, 0.5)").as("med"),
          sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"),
          sum(col("h")).as("sh"), sum(col("h") * col("h")).as("sh2"),
          sum(col("c") * col("h")).as("sch"))
        .select(
          col("event_type"), col("n"), col("n_users"),
          round(col("med"), 6).as("median_value"),
          round(expr("cast(n*sc2 - sc*sc as double)") / (col("n") * (col("n") - 1)) / 10000.0, 6)
            .as("var_value"),
          round(expr("cast(n*sch - sc*sh as double)")
            / (sqrt(expr("cast(n*sc2 - sc*sc as double)")) * sqrt(expr("cast(n*sh2 - sh*sh as double)"))), 6)
            .as("corr_value_hour"))),

    // ---- exact top-k frequent tokens (corpus vocabulary head) ------------
    QueryDef(
      "q_top_tokens",
      Some("""
        WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
                     FROM documents),
        f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        r AS (SELECT token, freq,
                     row_number() OVER (ORDER BY freq DESC, token) AS rn
              FROM f)
        SELECT token, freq, CAST(rn AS INT) AS rn FROM r WHERE rn <= 25"""),
      (s, dir) => {
        // top-25 via orderBy+limit (plans as parallel TakeOrderedAndProject,
        // partial per-partition top-k then a 25-row merge) — NOT a global
        // row_number window, which would sort the entire vocabulary on ONE
        // partition. The rank is then recovered over just the 25 survivors
        // with a broadcast inequality self-join (25x25 rows; no WindowExec
        // at all). Ordering is total (tokens distinct), so the count of
        // rows sorting at-or-before each survivor IS its row_number.
        val top = Tables.load(s, dir, "documents")
          .select(explode(graft.ext.TextOps.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(25)
        val peers = top.select(col("token").as("t2"), col("freq").as("f2"))
        top.join(broadcast(peers),
            col("f2") > col("freq") ||
              (col("f2") === col("freq") && col("t2") <= col("token")))
          .groupBy("token", "freq")
          .agg(count(lit(1)).cast("int").as("rn"))
          .select("token", "freq", "rn")
      }),

    // ---- deterministic content-hash sampling -----------------------------
    // Reproducible corpus sampling (the standard trick for train/eval
    // splits at scale): keep a document iff a prefix of md5(text) falls
    // under a threshold — portable across engines, stable across runs,
    // and consistent for duplicate texts.
    QueryDef(
      "q_sample",
      Some("""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE substr(md5(text), 1, 2) < '20'"""),
      (s, dir) => Tables.load(s, dir, "documents")
        .where(substring(md5(col("text")), 1, 2) < "20")
        .select("doc_id", "lang", "n_chars")),

    // ---- sliding (hopping) windows ---------------------------------------
    // 1-hour windows every 30 minutes: each event lands in exactly two
    // windows; the oracle reproduces Spark's epoch-aligned window grid
    // with date_trunc + a half-hour offset.
    QueryDef(
      "q_sliding",
      Some("""
        WITH e AS (SELECT ts, value,
                          date_trunc('hour', ts)
                            + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                                   ELSE INTERVAL 0 MINUTE END AS t30
                   FROM events),
        x AS (SELECT ts, value,
                     unnest([t30, t30 - INTERVAL 30 MINUTE]) AS win_start
              FROM e)
        SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM x GROUP BY 1, 2"""),
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(
          count(lit(1)).as("n"),
          sum(expr("cast(round(value * 100) as bigint)")).as("cents"))
        .select(
          col("window.start").as("win_start"), col("window.end").as("win_end"),
          col("n"), col("cents"))),

    // ---- pivot (per-user event-type counts) ------------------------------
    QueryDef(
      "q_pivot",
      Some("""
        SELECT user_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events GROUP BY user_id"""),
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)), // pivot yields NULL for absent cells; DuckDB count gives 0

    // ---- value histogram (fixed-width buckets, clamped top bucket) -------
    QueryDef(
      "q_histogram",
      Some("""
        SELECT event_type,
               CAST(least(floor("value" / 25.0), 19) AS BIGINT) AS bucket,
               count(*) AS n
        FROM events WHERE "value" IS NOT NULL
        GROUP BY 1, 2"""),
      (s, dir) => Tables.events(s, dir)
        .where(col("value").isNotNull)
        .groupBy(
          col("event_type"),
          least(floor(col("value") / 25.0), lit(19L)).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"))),

    // ---- link-graph authority: integer PageRank over a domain graph ------
    // The corpus has no link data, so (as with urlDomainStats' injected
    // URLs) each doc contributes one deterministic edge: its home domain
    // (doc_id % 50) links to an md5-derived target domain. Three exact
    // integer iterations; the oracle unrolls all three (see
    // GraphOps.pageRank for the arithmetic contract).
    QueryDef(
      "q_domain_rank",
      Some {
        def iter(i: Int) = s"""
        c$i AS (SELECT e.dst AS d, sum(r${i - 1}.r // deg.outdeg) AS s
                FROM e JOIN deg USING (src)
                     JOIN r${i - 1} ON r${i - 1}.d = e.src
                GROUP BY e.dst),
        r$i AS (SELECT n.d,
                  CAST(150000 + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT)
                    AS r
                FROM n LEFT JOIN c$i ON c$i.d = n.d)"""
        s"""
        WITH e AS (SELECT
                     'site' || CAST(doc_id % 50 AS VARCHAR)
                       || '.example.com' AS src,
                     'site' || CAST(('0x' ||
                         substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 50 AS VARCHAR)
                       || '.example.com' AS dst
                   FROM documents),
        n AS (SELECT DISTINCT d FROM
                (SELECT src AS d FROM e UNION ALL SELECT dst FROM e) z),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT d, CAST(1000000 AS BIGINT) AS r FROM n),
        ${iter(1)},
        ${iter(2)},
        ${iter(3)}
        SELECT d AS domain, r AS rank_micro FROM r3"""
      },
      (s, dir) => {
        val edges = Tables.load(s, dir, "documents").select(
          concat(lit("site"), (col("doc_id") % 50).cast("string"),
            lit(".example.com")).as("src"),
          concat(lit("site"),
            (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("long") % 50).cast("string"),
            lit(".example.com")).as("dst"))
        graft.ext.GraphOps.pageRank(edges, iters = 3)
      }),

    // ---- sorted array aggregation (stringified) --------------------------
    // collect_set + sort, emitted as a joined string: deterministic under
    // any partitioning, and scalar output keeps the driver's
    // pandas-based compare happy (it cannot sort array columns).
    QueryDef(
      "q_array_agg",
      Some("""
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
               count(DISTINCT event_type) AS n_types
        FROM events GROUP BY user_id"""),
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          concat_ws(",", array_sort(collect_set(col("event_type")))).as("types"),
          countDistinct(col("event_type")).as("n_types"))),

    // ---- Catalyst-native as-of merge join --------------------------------
    // The as-of join through the custom logical node + SparkStrategy +
    // AsOfMergeJoinExec physical operator (graft.plans): co-partitioned
    // two-pointer merge, pinned against the DuckDB correlated-subquery
    // oracle.
    QueryDef(
      "q_asof_merge",
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id, p.ts,
          (SELECT CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             FROM events e
            WHERE e.user_id = p.user_id AND e.event_type = 'error'
              AND e.ts <= p.ts) AS err_cents
        FROM events p WHERE p.event_type = 'purchase'"""),
      (s, dir) => {
        import graft.core.{EventTable, VersionedTable}
        val events = graft.core.EventTable(Tables.events(s, dir), "ts", Some("user_id"))
        val features = VersionedTable.fromEvents(
          events.where(col("event_type") === "error"), "user_id",
          sum(expr("cast(round(value * 100) as bigint)")) -> "err_cents")
        val probes = events.df.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        graft.ops.AsOfJoin.asofMerge(probes, "user_id", "ts", features)
      }),

    // ---- STREAMING sessionization through the correctness gate -----------
    // Same shape as q_stream_hourly: a real Structured Streaming query
    // (file source, AvailableNow, append mode); the watermark finalizes a
    // session once it passes session_end = last event + gap, which the
    // oracle reproduces with a HAVING against max(ts).
    QueryDef(
      "q_stream_sessions",
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
        FROM sess GROUP BY user_id, sid
        HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) FROM events)"""),
      (s, dir) => {
        val stream = graft.sources.Tables.eventsStream(s, dir)
        val agg = graft.streaming.StreamingOps.sessionized(
          stream, "ts", "0 seconds", "30 minutes",
          Seq("user_id"), Seq(count(lit(1)).as("n_events")))
          .select(
            col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"))
        graft.streaming.StreamingOps.runToParquet(agg, "sessions",
          statePartitions = Some(graft.streaming.StreamingOps
            .boundedStatePartitions(s, s"$dir/events.parquet")))
      })
  )
}

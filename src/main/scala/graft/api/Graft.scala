package graft.api

import graft.core.{EventTable, VersionedTable}
import graft.ops.{AsOfJoin, Examples}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing facade mirroring the reference program's shape
  * (App.java:38-87): register event tables, declare time-agnostic
  * feature/target aggregations (they become versioned tables), generate
  * training examples with a trailing-window trigger, and point-in-time
  * join on any time axis. A reference user's program ports statement for
  * statement:
  *
  * {{{
  * val g = Graft(spark)
  * val games = g.events("GamePlay", gamesDf, time = "ts", key = "user")
  * val purchases = g.events("Purchase", purchaseDf, time = "ts", key = "user")
  * val features = g.versionedWhere(games, "won = false",
  *   "sum(duration)" -> "loss_duration")                    // App.java:47
  * val target = g.versioned(purchases, "count(1)" -> "cnt") // App.java:52
  * val examples = g.examples(games,                          // App.java:64-77
  *   windowAgg = "count(nullif(won, true))", lookback = 1,
  *   trigger = "= 2", labelDelay = "INTERVAL 1 HOUR")
  * val training = g.pointInTimeJoin(                         // App.java:200-233
  *   g.pointInTimeJoin(examples, "_prediction_time", features),
  *   "_label_time", target)
  * }}}
  */
final case class Graft(spark: SparkSession) {

  private val versionedRegistry =
    scala.collection.mutable.Map.empty[String, VersionedTable]

  /** Make a versioned table addressable from [[sql]] temporal joins (and
    * as a plain view for ordinary SQL). */
  def registerVersioned(name: String, vt: VersionedTable): VersionedTable = {
    versionedRegistry(name.toLowerCase) = vt
    vt.df.createOrReplaceTempView(name)
    vt
  }

  private val TemporalJoin = (
    "(?is)\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)\\s+" +
      "LEFT\\s+JOIN\\s+(\\w+)\\s+FOR\\s+SYSTEM_TIME\\s+AS\\s+OF\\s+" +
      "(\\w+)\\.(\\w+)\\s+AS\\s+(\\w+)\\s+" +
      "ON\\s+(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*").r

  /** Run SQL, accepting the reference's event-time temporal-join syntax
    * (`LEFT JOIN V FOR SYSTEM_TIME AS OF p.t AS v ON p.k = v.k`,
    * App.java:200-205/228-233) against versioned tables registered with
    * [[registerVersioned]]. A leading `WITH name AS (...)` is registered
    * as a temp view. Everything else passes through to spark.sql. */
  def sql(query: String): DataFrame = {
    var rest = query.trim
    val With = "(?is)\\s*WITH\\s+(\\w+)\\s+AS\\s*\\(".r
    With.findPrefixMatchOf(rest).foreach { m =>
      // find the matching close paren of the CTE body
      var depth = 1
      var i = m.end
      while (depth > 0 && i < rest.length) {
        rest.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
      spark.sql(rest.substring(m.end, i - 1)).createOrReplaceTempView(m.group(1))
      rest = rest.substring(i)
    }
    rest match {
      case TemporalJoin(selectList, probe, ver, tAlias, tCol, vAlias, k1t, k1c, k2t, k2c) =>
        require(tAlias.equalsIgnoreCase(probe),
          s"as-of time must reference the probe table: $tAlias vs $probe")
        val vt = versionedRegistry.getOrElse(ver.toLowerCase,
          throw new IllegalArgumentException(
            s"$ver is not a registered versioned table (registerVersioned)"))
        val probeDf = spark.table(probe)
        val probeKey =
          if (k1t.equalsIgnoreCase(probe)) k1c
          else if (k2t.equalsIgnoreCase(probe)) k2c
          else throw new IllegalArgumentException(s"ON must reference $probe")
        val joined = AsOfJoin.asofMerge(probeDf, probeKey, tCol, vt)
        val exprs = selectList.split(",").map(_.trim).flatMap {
          case s if s.equalsIgnoreCase(s"$probe.*") || s == "*" => probeDf.columns.toSeq
          case s =>
            Seq(s.replaceAll(s"(?i)\\b$probe\\.", "").replaceAll(s"(?i)\\b$vAlias\\.", ""))
        }
        joined.selectExpr(exprs.toIndexedSeq: _*)
      case _ => spark.sql(rest)
    }
  }

  /** Register an event table (reference: createTemporaryView + watermark
    * schema, App.java:99-122). */
  def events(name: String, df: DataFrame, time: String, key: String): EventTable = {
    val et = EventTable(df, time, Some(key))
    et.createOrReplaceTempView(name)
    et
  }

  /** A time-agnostic aggregation over an event table, materialized as a
    * versioned table: one row per (key, change instant) with the value the
    * aggregate had as of that instant (inclusive). Aggregates are SQL
    * expression strings, e.g. "sum(duration)" -> "loss_duration". */
  def versioned(
      events: EventTable,
      aggs: (String, String)*): VersionedTable =
    versionedWhere(events, where = null, aggs: _*)

  def versionedWhere(
      events: EventTable,
      where: String,
      aggs: (String, String)*): VersionedTable = {
    val key = events.keyCol.getOrElse(
      throw new IllegalArgumentException("versioned() needs a keyed EventTable"))
    val filtered = if (where == null) events else events.where(expr(where))
    VersionedTable.fromEvents(
      filtered, key,
      aggs.map { case (sql, name) => (expr(sql): Column) -> name }: _*)
  }

  /** Training-example generation (reference: OVER-window + filter,
    * App.java:64-77). `trigger` is a SQL comparison applied to the window
    * aggregate's value, e.g. "= 2"; `orderCols` order rows that share a
    * timestamp, which makes the trailing ROWS frame deterministic. */
  def examples(
      events: EventTable,
      windowAgg: String,
      lookback: Int,
      trigger: String,
      labelDelay: String,
      orderCols: Seq[String] = Nil): DataFrame =
    Examples.generate(
      events,
      windowAgg = expr(windowAgg),
      lookback = lookback,
      // Examples.generate names the window aggregate __agg; the trigger
      // fragment compares against it (e.g. "__agg = 2")
      trigger = _ => expr(s"__agg ${trigger.trim}"),
      labelDelay = labelDelay,
      orderCols = orderCols)

  /** Event-time point-in-time join (reference: FOR SYSTEM_TIME AS OF,
    * App.java:200-205/228-233). The time axis is a parameter: join the
    * same probes to different versioned tables at different instants.
    * The Catalyst-native merge operator ([[AsOfJoin.asofMerge]]); a chain
    * of inclusive joins from [[examples]] to versioned tables of the same
    * event table plans as one sorted pass per key
    * ([[graft.plans.PointInTimePass]]). */
  def pointInTimeJoin(
      probes: DataFrame,
      asOfTime: String,
      versioned: VersionedTable,
      probeKey: String = "_entity",
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame =
    AsOfJoin.asofMerge(probes, probeKey, asOfTime, versioned, inclusive, joinType)

  /** Changelog view WITH retraction rows of a continuous grouped
    * aggregation over a STREAMING frame (reference: toChangelogStream
    * RowKinds, App.java:83): drains the stream and returns op-tagged rows
    * (+I first value per key, -U/+U pairs per change). Aggregates are SQL
    * expression strings, e.g. "sum(value)" -> "total". */
  def changelog(
      stream: DataFrame, time: String, delay: String, keys: Seq[String],
      aggs: (String, String)*): DataFrame =
    graft.streaming.StreamingOps.changelog(
      stream, time, delay, keys,
      aggs.map { case (sql, name) => expr(sql).as(name) })

  /** Fold a [[changelog]] back into dynamic-table state. */
  def replayChangelog(changelog: DataFrame, keys: Seq[String]): DataFrame =
    graft.streaming.StreamingOps.replayChangelog(changelog, keys)

  /** Near-duplicate clusters over a (doc_id, text) corpus: MinHash-LSH
    * candidates, exact-Jaccard verification, distributed connected
    * components; `exact = true` routes through the quadratic exact
    * generator (recall 1) instead. */
  def duplicateClusters(
      docs: DataFrame, threshold: Double,
      bands: Int = 3, rowsPerBand: Int = 3, exact: Boolean = false): DataFrame =
    graft.ext.Dedup.duplicateClusters(docs, threshold, bands, rowsPerBand, exact)

  /** Approximate nearest neighbors over a (vec_id, embedding) corpus:
    * IVF x PQ residual composition (cells scale ~sqrt(corpus), 8 B codes,
    * ADC first pass, exact re-rank). The engine's default big-corpus ANN. */
  def approxNearestNeighbors(
      emb: DataFrame, probeFilter: Column, k: Int,
      nprobe: Int = 4, rerank: Int = 30): DataFrame = {
    val model = graft.ext.IvfPq.train(
      emb, kCells = graft.ext.IvfKMeans.scaledK(emb.count()))
    graft.ext.IvfPq.search(emb, model, probeFilter, nprobe, k, rerank)
  }

  /** As [[approxNearestNeighbors]] with an OPQ rotation learned on the
    * cell residuals (alternating refinement): same per-row search cost,
    * tighter codes — the quality-first big-corpus ANN. */
  def approxNearestNeighborsOpq(
      emb: DataFrame, probeFilter: Column, k: Int,
      nprobe: Int = 4, rerank: Int = 30): DataFrame = {
    val model = graft.ext.IvfOpq.train(
      emb, kCells = graft.ext.IvfKMeans.scaledK(emb.count()))
    graft.ext.IvfOpq.search(emb, model, probeFilter, nprobe, k, rerank)
  }

  /** Per-document duplicated-chunk fraction (paragraph-level corpus dedup
    * over fixed k-token chunks). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 16): DataFrame =
    graft.ext.PipelineOps.chunkDedup(docs, chunkTokens)

  /** Boilerplate n-gram filter: per-doc boilerplate ratio + keep flag. */
  def boilerplateFilter(
      docs: DataFrame, minDf: Long = 3, maxRatio: Double = 0.3): DataFrame =
    graft.ext.PipelineOps.boilerplate(docs, minDf, maxRatio)

  /** Directed containment pairs (|Sa n Sb| / |Sa| >= threshold):
    * quotation / partial-duplicate detection. Default is the lossless
    * prefix-filtered candidate path (no corpus self-join); `exact = true`
    * selects the all-pairs baseline — identical rows either way. */
  def containmentPairs(
      docs: DataFrame, threshold: Double, exact: Boolean = false): DataFrame =
    graft.ext.PipelineOps.containmentPairs(docs, threshold, exact = exact)

  /** Flag training docs whose shingle overlap with the eval set (selected
    * by `evalFilter`) exceeds `maxFrac`. */
  def decontaminate(
      docs: DataFrame, evalFilter: Column, maxFrac: Double = 0.3): DataFrame =
    graft.ext.PipelineOps.decontaminate(docs, evalFilter, maxFrac)

  /** Decontamination scoring for a STREAMING doc frame (append mode,
    * stateless per-row array_intersect against the collected eval-shingle
    * set) — contamination filtering while the corpus is being ingested. */
  def decontaminateOnIngest(
      streamDocs: DataFrame, evalDocs: DataFrame,
      maxFrac: Double = 0.3): DataFrame =
    graft.ext.PipelineOps.decontaminateScore(
      streamDocs, graft.ext.PipelineOps.evalShingleSet(evalDocs), maxFrac)

  /** Directed containment of arriving documents against a static reference
    * corpus, scored per microbatch; drains the stream and returns the
    * result. Build the index once with
    * [[graft.ext.PipelineOps.buildContainmentIndex]] and reuse it. */
  def containmentOnIngest(
      streamDocs: DataFrame, index: graft.ext.PipelineOps.ContainmentIndex,
      threshold: Double): DataFrame =
    graft.ext.PipelineOps.containmentOnIngest(streamDocs, index, threshold)
}

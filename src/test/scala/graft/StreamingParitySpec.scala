package graft

import graft.sources.Tables
import graft.streaming.{StreamingFlagship, StreamingOps}
import graft.streaming.StreamingFlagship.StreamEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming parity (SURVEY.md §5.2.5): the Structured Streaming operators
  * must produce the batch engine's results on the same events. */
class StreamingParitySpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def loadEvents() = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .as[StreamEvent]
      .collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
  }

  test("streaming flagship equals batch flagship (chunked feed + watermark maturation)") {
    import spark.implicits._
    val events = loadEvents()
    val chunks = events.grouped(events.length / 3 + 1).toSeq
    val maxTs = events.map(_.ts.getTime).max
    val sentinel = StreamEvent(-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), -999L, "view", 0.0)

    val input = MemoryStream[StreamEvent]
    val query = StreamingFlagship(input.toDF())
      .writeStream.format("memory").queryName("flagship_out")
      .outputMode("append").start()
    try {
      chunks.foreach { c => input.addData(c.toSeq); query.processAllAvailable() }
      input.addData(Seq(sentinel)); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("flagship_out")
      .where(col("_entity") =!= -999L)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))
      .toSet

    // batch: the same pipeline through the public API (q_flagship)
    val exp = graft.queries.Registry.queries("q_flagship")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4)))
      .toSet

    assert(got.size === exp.size)
    assert(got === exp)
  }

  /** The flagship pipeline through the public API (q_flagship's body)
    * on in-memory events. */
  private def batchFlagship(events: Seq[StreamEvent]) = {
    import spark.implicits._
    val g = graft.api.Graft(spark)
    val ev = graft.core.EventTable(events.toDF(), "ts", Some("user_id"))
    val errCents = g.versionedWhere(ev, "event_type = 'error'",
      "sum(cast(round(value * 100) as bigint))" -> "err_cents")
    val purchases = g.versionedWhere(ev, "event_type = 'purchase'", "count(1)" -> "purchases")
    val ex = g.examples(ev,
      windowAgg = "count(case when event_type = 'error' then 1 end)",
      lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR",
      orderCols = Seq("event_id"))
    g.pointInTimeJoin(g.pointInTimeJoin(ex, "_prediction_time", errCents), "_label_time", purchases)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(r => (r._1, r._2.getTime, r._3.getTime, r._4, r._5))

  /** StreamingFlagship fed `batches` one micro-batch each, then a
    * sentinel that matures every label, against the batch pipeline on
    * the same events; duplicates count. */
  private def assertStreamMatchesBatch(name: String, batches: Seq[Seq[StreamEvent]]): Unit = {
    import spark.implicits._
    val all = batches.flatten
    val input = MemoryStream[StreamEvent]
    val query = StreamingFlagship(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { c => input.addData(c); query.processAllAvailable() }
      input.addData(Seq(StreamEvent(-1L,
        new java.sql.Timestamp(all.map(_.ts.getTime).max + 10L * 3600 * 1000), -999L, "view", 0.0)))
      query.processAllAvailable()
    } finally query.stop()
    val got = rows(spark.table(name).where(col("_entity") =!= -999L))
    val exp = rows(batchFlagship(all))
    assert(exp.nonEmpty)
    assert(got === exp)
  }

  private def ev(id: Long, hhmm: String, user: Long, tpe: String, value: Double) =
    StreamEvent(id, ts(hhmm), user, tpe, value)

  test("streaming flagship keeps negative error sums across batches and rounds half-cents as batch does") {
    assertStreamMatchesBatch("flagship_negative", Seq(
      // user 1 ends the batch with a negative sum, no purchase, no pending
      // example and a non-error last event: its sum must survive the batch
      Seq(ev(1, "00:00", 1, "error", -3.0), ev(2, "00:05", 1, "view", 0.0),
        // user 2: half-cent negatives round away from zero (-12.5 -> -13)
        ev(3, "00:06", 2, "error", -0.125), ev(4, "00:07", 2, "error", -0.125),
        ev(5, "00:08", 3, "error", 2.5), ev(6, "00:09", 3, "error", -4.75)),
      Seq(ev(7, "01:00", 1, "error", -1.0), ev(8, "01:05", 1, "error", -2.0),
        ev(9, "01:06", 2, "view", 0.0), ev(10, "01:07", 3, "purchase", 0.0)),
      // user 1 again after its state went through a timeout
      Seq(ev(11, "03:00", 1, "error", 0.5), ev(12, "03:05", 1, "error", 0.01),
        ev(13, "03:06", 2, "error", 0.125), ev(14, "03:07", 2, "error", 0.0))))
  }

  test("streaming flagship counts same-timestamp ties inclusively, as the batch pipeline does") {
    assertStreamMatchesBatch("flagship_ties", Seq(
      // three errors at one instant: two examples, both see all three
      Seq(ev(1, "00:00", 1, "error", 1.0), ev(2, "00:00", 1, "error", 2.0),
        ev(3, "00:00", 1, "error", 4.0),
        // a view tied before an error: no streak; the later tie fires
        ev(4, "00:10", 2, "error", 1.0), ev(5, "00:20", 2, "view", 0.0),
        ev(6, "00:20", 2, "error", 8.0), ev(7, "00:20", 2, "error", 16.0),
        // a purchase exactly at the label time counts
        ev(8, "00:30", 3, "error", 1.0), ev(9, "00:40", 3, "error", 1.0),
        ev(10, "00:50", 1, "purchase", 0.0)),
      Seq(ev(11, "01:00", 1, "purchase", 0.0), ev(12, "01:40", 3, "purchase", 0.0),
        ev(13, "01:40", 3, "error", 32.0), ev(14, "01:40", 3, "error", 64.0))))
  }

  test("streaming flagship state that grows over micro-batches matures by event-time timeout alone") {
    val t0 = ts("00:00").getTime
    def at(id: Long, sec: Int, user: Long, tpe: String, value: Double) =
      StreamEvent(id, new java.sql.Timestamp(t0 + sec * 1000L), user, tpe, value)
    // user 1, minute m: two errors (the second fires an example, its sum
    // negative) and a purchase. Ten minutes per batch over four batches,
    // all within the label delay: 40 pending examples and 40 purchases
    // build up in its state, and none matures while its events arrive.
    def minute(m: Int) = Seq(
      at(3L * m, 60 * m, 1, "error", -1.25 * (m + 1)),
      at(3L * m + 1, 60 * m + 20, 1, "error", 0.125 * (m % 3 - 1)),
      at(3L * m + 2, 60 * m + 40, 1, "purchase", 0.0))
    val grow = (0 until 4).map { b =>
      (10 * b until 10 * b + 10).flatMap(minute) :+ at(1000L + b, 600 * b + 300, 2, "view", 0.0)
    }
    assertStreamMatchesBatch("flagship_timeout_only", grow ++ Seq(
      // user 1 buys again between its label times; the batch runs under
      // the watermark of the last one, so nothing of user 1 matures here
      Seq(at(2000L, 3900, 1, "purchase", 0.0), at(2001L, 4500, 1, "purchase", 0.0),
        at(2002L, 4800, 2, "error", -2.0)),
      // no event of user 1: only its event-time timeout emits, first the
      // labels up to 01:20, then (after the sentinel) the rest
      Seq(at(2003L, 10800, 2, "error", -3.0))))
  }

  test("streaming flagship compiles its state codec once per query, not once per micro-batch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import spark.implicits._
    val t0 = ts("00:00").getTime
    // hour h: each of 20 users has two errors (one example) and a purchase.
    // Every batch updates state; the empty batch that follows it, with the
    // watermark moved on, matures the hour before's examples by timeout.
    def hour(h: Int) = (0 until 20).flatMap { u =>
      val t = t0 + h * 3600000L + u * 60000L
      val id = (h * 20L + u) * 3
      Seq(StreamEvent(id, new java.sql.Timestamp(t), u, "error", -1.5),
        StreamEvent(id + 1, new java.sql.Timestamp(t + 1000L), u, "error", 2.25),
        StreamEvent(id + 2, new java.sql.Timestamp(t + 2000L), u, "purchase", 0.0))
    }
    val input = MemoryStream[StreamEvent]
    val query = StreamingFlagship(input.toDF())
      .writeStream.format("memory").queryName("flagship_codegen")
      .outputMode("append").start()
    try {
      // warm-up: the first batches compile the query's stages, and the
      // third emits its first examples
      (0 until 3).foreach { h => input.addData(hour(h)); query.processAllAvailable() }
      val warmBatch = query.lastProgress.batchId
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (3 until 9).foreach { h => input.addData(hour(h)); query.processAllAvailable() }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      val batches = query.recentProgress.count(_.batchId > warmBatch)
      assert(batches >= 6)
      assert(spark.table("flagship_codegen").count() > 0)
      // one compilation per batch is inherent: the late-event filter's
      // watermark literal changes every batch
      assert(compiled <= batches, s"$compiled compilations in $batches micro-batches")
    } finally query.stop()
  }

  test("streaming tumbling window equals batch windowed aggregation") {
    import spark.implicits._
    val events = loadEvents()
    val maxTs = events.map(_.ts.getTime).max
    val sentinel = StreamEvent(-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), -999L, "view", 0.0)

    val input = MemoryStream[StreamEvent]
    val agg = StreamingOps.tumbling(
      input.toDF(), "ts", "0 seconds", "1 hour", Seq("event_type"),
      Seq(count(lit(1)).as("n")))
    val query = agg.select(col("window.start").as("hour_start"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    try {
      input.addData(events.toSeq); query.processAllAvailable()
      input.addData(Seq(sentinel)); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("tumbling_out")
      .where(col("event_type") =!= "view" || col("hour_start") <= new java.sql.Timestamp(maxTs))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val exp = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === exp)
  }

  test("streaming running aggregate (complete mode) equals batch groupBy") {
    import spark.implicits._
    val events = loadEvents()
    val input = MemoryStream[StreamEvent]
    val agg = StreamingOps.runningAggregate(
      input.toDF(), "ts", "0 seconds", Seq("user_id"),
      Seq(count(lit(1)).as("n"), sum(expr("cast(round(value*100) as bigint)")).as("cents")))
    val query = agg.writeStream.format("memory").queryName("agg_out")
      .outputMode("complete").start()
    try {
      events.grouped(events.length / 2 + 1)
        .foreach { c => input.addData(c.toSeq); query.processAllAvailable() }
    } finally query.stop()

    val got = spark.table("agg_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(expr("cast(round(coalesce(value,0)*100) as bigint)")).as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exp)
  }

  test("streaming dedup within watermark equals batch dropDuplicates") {
    import spark.implicits._
    val base = loadEvents().take(50)
    val dupes = base ++ base.take(20) // re-deliver 20 events
    val input = MemoryStream[StreamEvent]
    val query = StreamingOps.dedupWithinWatermark(
      input.toDF(), "ts", "1 hour", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(dupes.toSeq); query.processAllAvailable()
    } finally query.stop()
    assert(spark.table("dedup_out").count() === base.length)
    assert(spark.table("dedup_out").select("event_id").distinct().count() === base.length)
  }
}

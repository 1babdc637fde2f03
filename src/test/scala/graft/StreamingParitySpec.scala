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

package graft

import graft.core.{EventTable, VersionedTable}
import graft.ops.AsOfJoin
import graft.sources.Tables
import graft.streaming.StreamingAsOf
import graft.streaming.StreamingAsOf.AsOfInput
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** transformWithState as-of join == batch as-of join on real data, with
  * versions and probes interleaved OUT OF ORDER within each micro-batch
  * (exactness under the watermark contract, not under ordered delivery). */
class StreamingAsOfSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** transformWithState needs the RocksDB state store (multiple column
    * families); the default HDFS-backed provider rejects it. The provider
    * is read when a query starts, where its session is cloned. */
  private def withRocksDb[T](body: => T): T =
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  test("streaming as-of answers equal batch AsOfJoin on sf0.001 features") {
    import spark.implicits._
    val events = EventTable(Tables.events(spark, sfDir), "ts", Some("user_id"))
    val features = VersionedTable.fromEvents(
      events.where(col("event_type") === "error"), "user_id",
      sum(expr("cast(round(value * 100) as bigint)")) -> "err_cents")

    // probes: every user's purchase instants (an arbitrary interesting
    // set) and every error instant — the features' own change times,
    // where only an inclusive lookup sees the version at that instant
    val probeRows = events.df
      .where(col("event_type") === "purchase" || col("event_type") === "error")
      .select(col("user_id"), col("ts")).collect()
      .sortBy(r => (r.getTimestamp(1).getTime, r.getLong(0)))
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getLong(0), r.getTimestamp(1)) }

    // expected, via the plain-Scala reference; the batch operator agrees
    val probesDf = probeRows.toSeq.toDF("probeId", "k", "t")
    def answers(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    val expected = answers(AsOfReference(probesDf, "k", "t", features))
    assert(answers(AsOfJoin.asofMerge(probesDf, "k", "t", features)) === expected)

    // streaming feed: versions + probes merged, chunked by time, shuffled
    // within each chunk (out-of-order inside the watermark)
    val versionRows = features.df.collect().map(r =>
      AsOfInput(r.getLong(0), r.getTimestamp(1), 0, r.getLong(2), -1L))
    val probeInputs = probeRows.map { case (id, k, t) => AsOfInput(k, t, 1, 0L, id) }
    val all = (versionRows ++ probeInputs).sortBy(a => a.ts.getTime)
    val chunks = all.grouped(all.length / 4 + 1).toSeq
      .map(c => new scala.util.Random(7).shuffle(c.toSeq))
    val maxTs = all.map(_.ts.getTime).max
    val sentinel = AsOfInput(-999L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), 0, 0L, -1L)

    val input = MemoryStream[AsOfInput]
    val out = StreamingAsOf(
      input.toDF().withWatermark("ts", "0 seconds").as[AsOfInput])
    val query = withRocksDb(out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start())
    try {
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      input.addData(Seq(sentinel)); query.processAllAvailable()
    } finally query.stop()

    val got = answers(spark.table("asof_out"))
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("answers are stable across prune for duplicate-timestamp versions") {
    import spark.implicits._
    // Two versions of key 1 with the SAME change time (10') arrive in
    // SEPARATE micro-batches. Probe P1 covers that instant and is answered
    // by its timer, whose lookup sees the full duplicate list and whose
    // prune then collapses it to ONE kept version. Probe P2 covers the
    // same duplicate-version window but arrives after the prune, so its
    // lookup sees only the kept version. Both answers must be the
    // LAST-APPENDED value 200 — the lookup() and prune tie rules must
    // agree, or the answer would silently change across the prune
    // (regression for the prune keeping `.last` among equal change times).
    // Note the watermark contract bounds what "after the prune" can mean:
    // rows at or below the late-events watermark are dropped by Spark
    // before reaching the processor (verified here by construction: every
    // row stays inside the 60' allowed lateness when its batch runs).
    def t(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val input = MemoryStream[AsOfInput]
    val out = StreamingAsOf(
      input.toDF().withWatermark("ts", "60 minutes").as[AsOfInput])
    val query = withRocksDb(out.writeStream.format("memory").queryName("asof_prune")
      .outputMode("append").start())
    try {
      // batch 1: first version (ts=10', v=100)
      input.addData(Seq(AsOfInput(1L, t(10), 0, 100L, -1L)))
      query.processAllAvailable()
      // batch 2: duplicate-timestamp version (ts=10', v=200) — appended
      // later, so it must win — plus probe P1 at 30' (ahead of the
      // watermark: buffers with a timer at 30')
      input.addData(Seq(
        AsOfInput(1L, t(10), 0, 200L, -1L),
        AsOfInput(1L, t(30), 1, 0L, 1L)))
      query.processAllAvailable()
      // sentinel at 95' -> watermark 35' -> P1's timer fires: answer from
      // the full duplicate list, then the prune keeps exactly one of the
      // two ts=10' versions
      input.addData(Seq(AsOfInput(-999L, t(95), 0, 0L, -1L)))
      query.processAllAvailable()
      // P2 at 40' (above watermark 35', so not late): buffers, then the
      // second sentinel fires its timer — this lookup runs against the
      // PRUNED state
      input.addData(Seq(AsOfInput(1L, t(40), 1, 0L, 2L)))
      query.processAllAvailable()
      input.addData(Seq(AsOfInput(-999L, t(200), 0, 0L, -1L)))
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("asof_prune").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    assert(got === Map(1L -> Some(200L), 2L -> Some(200L)))
  }
}

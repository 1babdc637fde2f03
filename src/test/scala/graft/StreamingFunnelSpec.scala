package graft

import graft.streaming.StreamingFunnel
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming funnel == batch cascade under forced multi-batch,
  * OUT-OF-ORDER arrival: the buffer-to-watermark replay must reproduce
  * the order-sensitive running-max semantics exactly. */
class StreamingFunnelSpec extends AnyFunSuite with SparkSpec {

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Long) = new java.sql.Timestamp(1704067200000L + min * 60000L)

  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String)

  test("out-of-order multi-batch arrival matches the batch cascade; " +
      "intermediate state stays bounded") {
    import spark.implicits._
    val events = Seq(
      // user 1: view -> click(30m) -> purchase(75m): converts
      Ev(1L, ts(0), 1L, "view"), Ev(1L, ts(30), 2L, "click"),
      Ev(1L, ts(75), 3L, "purchase"),
      // user 2: click with no prior view -> no conversion
      Ev(2L, ts(10), 4L, "click"), Ev(2L, ts(20), 5L, "purchase"),
      // user 3: click 90m after view (outside 1h) -> no conversion
      Ev(3L, ts(0), 6L, "view"), Ev(3L, ts(90), 7L, "click"),
      Ev(3L, ts(100), 8L, "purchase"),
      // user 4: exact-boundary chain (60m + 60m): converts
      Ev(4L, ts(0), 9L, "view"), Ev(4L, ts(60), 10L, "click"),
      Ev(4L, ts(120), 11L, "purchase"),
      // user 5: second view re-opens the click window: converts
      Ev(5L, ts(0), 12L, "view"), Ev(5L, ts(120), 13L, "view"),
      Ev(5L, ts(150), 14L, "click"), Ev(5L, ts(170), 15L, "purchase"),
      // noise the step filter must drop
      Ev(1L, ts(40), 16L, "error"), Ev(4L, ts(61), 17L, "signup"))

    // shuffle into 3 chunks: out-of-order WITHIN the 3h allowed lateness
    val shuffled = new scala.util.Random(11).shuffle(events)
    val chunks = shuffled.grouped(6).toSeq
    val sentinel = Ev(-999L, ts(48 * 60), 999L, "view")

    val input = MemoryStream[Ev]
    val out = StreamingFunnel(
      input.toDF(), Seq("view", "click", "purchase"),
      within = "1 HOUR", watermarkDelay = "180 minutes")
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(provider)
    // read when the query starts (its session is cloned there)
    val query = withConf(provider ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      out.writeStream.format("memory").queryName("funnel_out")
        .outputMode("append").start()
    }
    // the shared session's provider is back to what later suites expect
    assert(spark.conf.getOption(provider) === prior)
    try {
      chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      input.addData(Seq(sentinel)); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("funnel_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly the conversions the batch cascade finds
    assert(got === Set((1L, 3L), (4L, 11L), (5L, 15L)))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo, ValueState}

/** Streaming conversion-funnel detection — the real-time form of
  * [[graft.ops.EventPatterns.funnelCounts]]: emit one row per FINAL-stage
  * event that completes the step chain (each step within `within` of the
  * prior stage's latest qualifying event, greedy last-touch).
  *
  * The batch cascade is ORDER-SENSITIVE (running maxes over event-time
  * order), so out-of-order arrival cannot be folded eagerly: arriving
  * step events buffer in state with an event-time timer, and each timer
  * drains the watermark-covered prefix IN (ts, event_id) ORDER through
  * the cascade — by the watermark contract nothing earlier can still
  * arrive, so the drained prefix replays exactly the batch order (the
  * same buffer-to-watermark discipline as [[StreamingAsOf]]).
  *
  * State per key is O(in-flight events + k longs): the buffer holds only
  * events ahead of the watermark (drained monotonically), and the whole
  * processed history collapses into the k latest-qualifying-time longs —
  * the streaming-state story the batch windows imply. Conversions whose
  * ceil-ms timer never falls under the final watermark (the last events
  * of a bounded run) stay pending, mirrored by the oracle's watermark
  * filter. */
object StreamingFunnel {

  case class FunnelEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, step: Int)

  /** One emitted row per completed funnel: the final-stage event. */
  case class Conversion(user_id: Long, event_id: Long, ts_us: Long)

  /** Public (not `private`): Catalyst's generated encoder Java must be
    * able to resolve the `qs()` accessor reflectively — a `private` case
    * class makes every state ser/de in the hot timer path fall back to
    * the interpreted encoder (`ERROR CodeGenerator: no applicable
    * constructor/method found`). */
  case class QState(qs: Array[Long])

  private def ceilMs(us: Long): Long = Math.floorDiv(us + 999L, 1000L)

  class Processor(k: Int, withinUs: Long)
      extends StatefulProcessor[Long, FunnelEvent, Conversion] {
    @transient private var buffered: ListState[(Long, Long, Int)] = _
    @transient private var stage: ValueState[QState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffered = getHandle.getListState[(Long, Long, Int)](
        "buffered", Encoders.product[(Long, Long, Int)], TTLConfig.NONE)
      stage = getHandle.getValueState[QState](
        "stage", Encoders.product[QState], TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[Conversion] = {
      rows.foreach { e =>
        val us = StreamingFlagship.toMicros(e.ts)
        buffered.appendValue((us, e.event_id, e.step))
        getHandle.registerTimer(ceilMs(us))
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Conversion] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val all = buffered.get().toSeq
      val (ready, waiting) = all.partition(_._1 <= wmUs)
      if (ready.isEmpty) return Iterator.empty
      if (waiting.isEmpty) buffered.clear() else buffered.put(waiting.toArray)
      val qs = Option(stage.get()).map(_.qs)
        .getOrElse(Array.fill(k)(Long.MinValue))
      val out = Seq.newBuilder[Conversion]
      // the watermark-covered prefix, replayed in exactly batch order
      ready.sortBy(e => (e._1, e._2)).foreach { case (us, eventId, step) =>
        if (step == 0) {
          if (us > qs(0)) qs(0) = us
        } else if (qs(step - 1) != Long.MinValue
            && us <= qs(step - 1) + withinUs) {
          if (step == k - 1) out += Conversion(key, eventId, us)
          else if (us > qs(step)) qs(step) = us
        }
      }
      stage.update(QState(qs))
      out.result().iterator
    }
  }

  /** `events` must be a STREAMING frame with (user_id, ts, event_id,
    * event_type); the watermark is applied here. */
  def apply(
      events: DataFrame, steps: Seq[String], within: String = "1 HOUR",
      watermarkDelay: String = "0 seconds"): Dataset[Conversion] = {
    LocalFs.ensure(events.sparkSession)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val evEnc: Encoder[FunnelEvent] = Encoders.product[FunnelEvent]
    implicit val outEnc: Encoder[Conversion] = Encoders.product[Conversion]
    val stepIdx = steps.zipWithIndex
      .map { case (s, i) => struct(lit(s).as("t"), lit(i).as("i")) }
    val withinUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(within)) match {
      case iv =>
        require(iv.months == 0 && iv.days == 0,
          "within must be a sub-day interval")
        iv.microseconds
    }
    events
      .withColumn("__step",
        element_at(
          map_from_entries(array(stepIdx: _*)), col("event_type")))
      .where(col("__step").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("__step").as("step"))
      .withWatermark("ts", watermarkDelay)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(
        new Processor(steps.size, withinUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

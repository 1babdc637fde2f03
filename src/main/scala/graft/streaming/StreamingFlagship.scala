package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming form of the flagship pipeline (the reference's
  * whole program, App.java:38-87): per-user state replaces the
  * changelog → versioned-table machinery (AddWatermark.java, App.java:143-193).
  *
  * Semantics mirror the batch engine exactly (SURVEY.md §2.5):
  *  - example fires on the second consecutive error event (OVER-window A3 —
  *    unsupported in streaming, so re-expressed as last-event state, §7.4);
  *  - err_cents is the cumulative error value as of _prediction_time,
  *    INCLUSIVE, including same-timestamp ties later in event_id order;
  *  - purchases is the cumulative purchase count as of _label_time
  *    (= prediction + 1h), which lies in the future at example creation:
  *    examples are buffered in state and emitted only once the event-time
  *    watermark passes their label time (event-time timeout) — the
  *    streaming-correct answer to the reference's second temporal join
  *    (App.java:228-233) with no temporal leakage.
  *
  * State per key is bounded: three scalars + purchases within the label
  * horizon (older ones collapse into a base count) + pending examples
  * (horizon = label delay). In-order delivery per key is assumed for
  * same-timestamp ties split across micro-batches (the reference assumes
  * strictly ascending time globally, App.java:121).
  */
object StreamingFlagship {

  case class StreamEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class PendingExample(predUs: Long, labelUs: Long, errCents: Long)

  case class FlagshipState(
      lastWasError: Boolean,
      errCents: Long,
      purchaseBase: Long,
      purchaseTs: List[Long],
      pending: List[PendingExample])

  case class TrainingExample(
      _entity: Long,
      _prediction_time: java.sql.Timestamp,
      _label_time: java.sql.Timestamp,
      err_cents: Option[Long],
      purchases: Option[Long])

  val LabelDelayUs: Long = 3600L * 1000 * 1000

  /** Timestamps round-trip through epoch MICROS (TimestampType precision) —
    * java.sql.Timestamp.getTime alone would truncate to millis. */
  def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** `CAST(round(value * 100) AS BIGINT)` as the batch pipeline computes
    * it: Spark's `round` is HALF_UP, away from zero for negative values,
    * where `math.round` alone would round -12.5 up to -12. */
  private def toCents(value: Double): Long = {
    val c = value * 100
    if (c < 0) -math.round(-c) else math.round(c)
  }

  private def purchasesAsOf(s: FlagshipState, tUs: Long): Long =
    s.purchaseBase + s.purchaseTs.count(_ <= tUs)

  private def emitMatured(
      s: FlagshipState, key: Long, watermarkUs: Long): (FlagshipState, List[TrainingExample]) = {
    val (ready, waiting) = s.pending.partition(_.labelUs <= watermarkUs)
    val out = ready.sortBy(p => (p.predUs, p.labelUs)).map { p =>
      val n = purchasesAsOf(s, p.labelUs)
      TrainingExample(
        key,
        fromMicros(p.predUs),
        fromMicros(p.labelUs),
        Some(p.errCents),
        if (n == 0L) None else Some(n))
    }
    // collapse purchases no longer needed by any remaining pending example
    // (all remaining/future label times exceed the watermark)
    val (old, recent) = s.purchaseTs.partition(_ <= watermarkUs)
    (s.copy(
      purchaseBase = s.purchaseBase + old.size,
      purchaseTs = recent,
      pending = waiting), out)
  }

  private def fold(
      key: Long,
      events: Iterator[StreamEvent],
      state: GroupState[FlagshipState]): Iterator[TrainingExample] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    var s = state.getOption.getOrElse(FlagshipState(false, 0L, 0L, Nil, Nil))

    if (!state.hasTimedOut) {
      val batch = events.toArray.sortBy(e => (toMicros(e.ts), e.event_id))
      // one running sum over the sorted batch; an example's as-of is
      // inclusive, so each run of equal timestamps is summed before any
      // example in it reads the sum (same-ts ties later in event_id order
      // count)
      var cents = s.errCents
      var purchases = s.purchaseTs
      val newPending = List.newBuilder[PendingExample]
      var lastWasError = s.lastWasError
      var i = 0
      while (i < batch.length) {
        val tUs = toMicros(batch(i).ts)
        var j = i
        while (j < batch.length && toMicros(batch(j).ts) == tUs) {
          if (batch(j).event_type == "error") cents += toCents(batch(j).value)
          j += 1
        }
        while (i < j) {
          val e = batch(i)
          val isError = e.event_type == "error"
          if (isError && lastWasError) newPending += PendingExample(tUs, tUs + LabelDelayUs, cents)
          lastWasError = isError
          if (e.event_type == "purchase") purchases = tUs :: purchases
          i += 1
        }
      }
      s = s.copy(
        lastWasError = lastWasError,
        errCents = cents,
        purchaseTs = purchases,
        pending = s.pending ++ newPending.result())
    }

    val (next, out) = emitMatured(s, key, wmUs)
    if (next.pending.nonEmpty) {
      state.update(next)
      // ceil micros -> ms so the timeout's watermark covers the label time
      state.setTimeoutTimestamp(Math.floorDiv(next.pending.map(_.labelUs).min + 999L, 1000L))
    } else if (next.lastWasError || next.purchaseBase > 0 || next.purchaseTs.nonEmpty ||
      next.errCents != 0) {
      state.update(next)
    } else {
      state.remove()
    }
    out.iterator
  }

  /** events must be a STREAMING DataFrame with the events-table schema.
    * Returns an append-mode stream of training examples. */
  def apply(events: DataFrame, watermarkDelay: String = "0 seconds"): Dataset[TrainingExample] = {
    val spark: SparkSession = events.sparkSession
    LocalFs.ensure(spark)
    import spark.implicits._
    implicit val stateEnc: Encoder[FlagshipState] = Encoders.product[FlagshipState]
    implicit val outEnc: Encoder[TrainingExample] = Encoders.product[TrainingExample]
    events
      .select(
        col("event_id"), col("ts"), col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }
}

package graft.streaming

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuilder

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
  *
  * State layout ([[FlagshipState]], one row per user in the state store):
  *  - `lastWasError: Boolean`, `errCents: Long`, `purchaseBase: Long`;
  *  - `purchases: Array[Byte]` (BINARY): the purchase times not yet
  *    collapsed into `purchaseBase`, as big-endian epoch-µs longs;
  *  - `pending: Array[Byte]` (BINARY): the pending examples as
  *    (prediction µs, label µs, err cents) long triples, in arrival order.
  *
  * The state holds no collection on purpose. Spark resolves the state
  * deserializer again for every micro-batch, and the deserializer of a
  * `Seq` or array field (`List[Long]`, even `Array[Long]`) goes through
  * `MapObjects`, which draws a fresh lambda-variable id each time: the
  * generated code differs every batch, misses the codegen cache and is
  * compiled again (twice per batch, under the cache's lock). A `BINARY`
  * column deserializes to `Array[Byte]` directly, so the state codec is
  * compiled once per query. The fold unpacks both fields once per key per
  * batch and packs them once on `state.update`.
  */
object StreamingFlagship {

  case class StreamEvent(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class FlagshipState(
      lastWasError: Boolean,
      errCents: Long,
      purchaseBase: Long,
      purchases: Array[Byte],
      pending: Array[Byte])

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

  private def pack(longs: Array[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(longs.length * 8)
    b.asLongBuffer().put(longs)
    b.array()
  }

  private def unpack(bytes: Array[Byte]): Array[Long] = {
    val longs = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(longs)
    longs
  }

  private val Empty = FlagshipState(false, 0L, 0L, Array.emptyByteArray, Array.emptyByteArray)

  private def fold(
      key: Long,
      events: Iterator[StreamEvent],
      state: GroupState[FlagshipState]): Iterator[TrainingExample] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val s = state.getOption.getOrElse(Empty)
    var lastWasError = s.lastWasError
    var cents = s.errCents
    val purchases = new ArrayBuilder.ofLong
    purchases.addAll(unpack(s.purchases))
    // (prediction µs, label µs, err cents) triples
    val pending = new ArrayBuilder.ofLong
    pending.addAll(unpack(s.pending))

    if (!state.hasTimedOut) {
      val batch = events.toArray.sortBy(e => (toMicros(e.ts), e.event_id))
      // one running sum over the sorted batch; an example's as-of is
      // inclusive, so each run of equal timestamps is summed before any
      // example in it reads the sum (same-ts ties later in event_id order
      // count)
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
          if (isError && lastWasError) pending.addOne(tUs).addOne(tUs + LabelDelayUs).addOne(cents)
          lastWasError = isError
          if (e.event_type == "purchase") purchases.addOne(tUs)
          i += 1
        }
      }
    }

    // emit the examples whose label time the watermark has passed
    val bought = purchases.result()
    val pend = pending.result()
    val (ready, waiting) = (0 until pend.length by 3).partition(p => pend(p + 1) <= wmUs)
    val out = ready.sortBy(p => (pend(p), pend(p + 1))).map { p =>
      val n = s.purchaseBase + bought.count(_ <= pend(p + 1))
      TrainingExample(
        key,
        fromMicros(pend(p)),
        fromMicros(pend(p + 1)),
        Some(pend(p + 2)),
        if (n == 0L) None else Some(n))
    }
    // collapse purchases no longer needed by any remaining pending example
    // (all remaining/future label times exceed the watermark)
    val recent = bought.filter(_ > wmUs)
    val purchaseBase = s.purchaseBase + (bought.length - recent.length)

    def next = FlagshipState(lastWasError, cents, purchaseBase, pack(recent),
      pack(waiting.flatMap(p => pend.slice(p, p + 3)).toArray))
    if (waiting.nonEmpty) {
      state.update(next)
      // ceil micros -> ms so the timeout's watermark covers the label time
      state.setTimeoutTimestamp(Math.floorDiv(waiting.map(p => pend(p + 1)).min + 999L, 1000L))
    } else if (lastWasError || purchaseBase > 0 || recent.nonEmpty || cents != 0) {
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

package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ExpiredTimerInfo}

/** General streaming as-of join via transformWithState (Spark 4.x): the
  * per-key state IS the versioned table (SURVEY.md §2.6 T3 — "state itself
  * is the versioned table"), replacing the reference's changelog
  * materialization entirely.
  *
  * Inputs arrive as one keyed stream of tagged rows (side 0 = version with
  * a value, side 1 = probe with an as-of time). Semantics follow the batch
  * [[graft.ops.AsOfJoin.asofMerge]] (inclusive boundary, LEFT nulls;
  * StreamingAsOfSpec compares both against a plain-Scala reference):
  *
  *  - a probe whose as-of time is already covered by the watermark answers
  *    immediately (any version at or before that instant must have arrived,
  *    by the watermark contract);
  *  - a probe ahead of the watermark buffers in state with an event-time
  *    timer at its as-of instant and answers exactly when the watermark
  *    passes it — correct even when versions arrive out of order within
  *    the allowed lateness.
  *
  * Versions older than the newest watermark-covered version are pruned on
  * every timer (only the latest version at-or-below the watermark can ever
  * be an answer), so state per key is O(pending probes + in-flight versions).
  */
object StreamingAsOf {

  /** side 0: (key, ts=change time, value). side 1: (key, ts=as-of time,
    * probeId). `ts` is the event-time column the caller watermarks. */
  case class AsOfInput(key: Long, ts: java.sql.Timestamp, side: Int, value: Long, probeId: Long)

  case class AsOfAnswer(probeId: Long, key: Long, asOfUs: Long, value: Option[Long])

  private def ceilMs(us: Long): Long = Math.floorDiv(us + 999L, 1000L)

  class Processor extends StatefulProcessor[Long, AsOfInput, AsOfAnswer] {
    @transient private var versions: ListState[(Long, Long)] = _ // (tsUs, value)
    @transient private var pending: ListState[(Long, Long)] = _ // (probeId, asOfUs)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      versions = getHandle.getListState[(Long, Long)](
        "versions", Encoders.product[(Long, Long)], TTLConfig.NONE)
      pending = getHandle.getListState[(Long, Long)](
        "pending", Encoders.product[(Long, Long)], TTLConfig.NONE)
    }

    private def lookup(asOfUs: Long): Option[Long] = {
      var bestTs = Long.MinValue
      var best: Option[Long] = None
      val it = versions.get()
      while (it.hasNext) {
        val (ts, v) = it.next()
        if (ts <= asOfUs && ts >= bestTs) { // inclusive; later duplicates win
          bestTs = ts
          best = Some(v)
        }
      }
      best
    }

    override def handleInputRows(
        key: Long,
        rows: Iterator[AsOfInput],
        timerValues: TimerValues): Iterator[AsOfAnswer] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val batch = rows.toSeq
      // versions first: a probe in this batch must see same-batch versions
      batch.iterator.filter(_.side == 0).foreach(v =>
        versions.appendValue((StreamingFlagship.toMicros(v.ts), v.value)))
      val out = Seq.newBuilder[AsOfAnswer]
      batch.iterator.filter(_.side == 1).foreach { p =>
        val asOfUs = StreamingFlagship.toMicros(p.ts)
        if (asOfUs <= wmUs) {
          out += AsOfAnswer(p.probeId, key, asOfUs, lookup(asOfUs))
        } else {
          pending.appendValue((p.probeId, asOfUs))
          getHandle.registerTimer(ceilMs(asOfUs))
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfAnswer] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val all = pending.get().toSeq
      val (ready, waiting) = all.partition(_._2 <= wmUs)
      val out = ready.sortBy(p => (p._2, p._1)).map { case (probeId, asOfUs) =>
        AsOfAnswer(probeId, key, asOfUs, lookup(asOfUs))
      }
      if (waiting.isEmpty) pending.clear() else pending.put(waiting.toArray)
      // prune: only the newest watermark-covered version can still answer
      val vs = versions.get().toSeq
      if (vs.nonEmpty) {
        val covered = vs.filter(_._1 <= wmUs)
        val kept =
          if (covered.isEmpty) vs
          else {
            // same tie rule as lookup(): among equal change times the
            // LAST-APPENDED version wins (ListState preserves append order),
            // so answers cannot change after a prune fires.
            val maxTs = covered.iterator.map(_._1).max
            val newest = covered.filter(_._1 == maxTs).last
            newest +: vs.filter(_._1 > wmUs)
          }
        if (kept.size < vs.size) versions.put(kept.toArray)
        if (kept.isEmpty && waiting.isEmpty) { versions.clear(); pending.clear() }
      }
      out.iterator
    }
  }

  /** tagged must be a STREAMING Dataset of AsOfInput with a watermark
    * already applied to its event-time column. */
  def apply(tagged: Dataset[AsOfInput]): Dataset[AsOfAnswer] = {
    LocalFs.ensure(tagged.sparkSession)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[AsOfAnswer] = Encoders.product[AsOfAnswer]
    tagged
      .groupByKey(_.key)
      .transformWithState(new Processor, TimeMode.EventTime(), OutputMode.Append())
  }
}

package graft.perfbench

import graft.api.Graft
import graft.core.VersionedTable
import graft.ext.Dedup
import graft.sources.Tables
import graft.streaming.StreamingFlagship
import graft.streaming.StreamingFlagship.{StreamEvent, TrainingExample}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The two workloads. Each one: set-up repeated (five times for the
  * backfill, whose JIT warm-up takes longest, three times for the stream;
  * the median is `setup_s`), then a timed window of `ctx.seconds`, then its
  * outputs are written for the checks. In traced runs every second backfill
  * pass is traced, and the stream traces the second half of its fixed-rate
  * phase, so the tracing overhead is measured in the same process. The
  * traced backfill run also measures `graft.ext` and `graft.functions`. */
object Workloads {

  private val Null = Long.MinValue

  private def ms(t0: Long): Double = (System.nanoTime - t0) / 1e6

  /** Repeat set-up `reps` times; keeps each repetition's seconds in the
    * report. */
  private def setup(ctx: Ctx, reps: Int)(body: => Unit): Unit = {
    val secs = (1 to reps).map { _ =>
      val t = System.nanoTime
      body
      ms(t) / 1e3
    }
    ctx.report("setup_reps_s") = secs
    ctx.mark("setup")
  }

  /** One op's timing sample: wall ms and the op's wall-clock window. */
  private final case class Op(ms: Double, startMs: Long, endMs: Long)

  /** Nominal seconds per backfill pass. */
  private val PassS = 2.0

  /** Runs `op` a fixed number of times, `seconds / PassS` (at least 3),
    * so that every run samples the same stretch of the JVM's warm-up curve
    * and takes about `seconds` at the nominal pass time. In a traced run
    * odd ops are traced (listeners attached, spans on) and even ops run
    * bare. Returns (untraced ops, traced ops, probe). */
  private def timed(spark: SparkSession, ctx: Ctx)(
      op: Int => Unit): (Seq[Op], Seq[Op], Option[Probe]) = {
    val n = math.max(3, math.round(ctx.seconds / PassS).toInt)
    val plain = ArrayBuffer.empty[Op]
    val traced = ArrayBuffer.empty[Op]
    val probe = if (ctx.trace) Some(new Probe(spark)) else None
    for (i <- 0 until n) {
      val on = ctx.trace && i % 2 == 1
      ctx.tracer.request = i
      if (on) startTrace(ctx, probe.get)
      val w0 = System.currentTimeMillis
      val t = System.nanoTime
      op(i)
      (if (on) traced else plain) += Op(ms(t), w0, System.currentTimeMillis)
      if (on) { ctx.tracer.enabled = false; probe.get.detach() }
    }
    ctx.mark("timed")
    ctx.report("op_ms") = plain.map(_.ms)
    ctx.report("traced_op_ms") = traced.map(_.ms)
    (plain.toSeq, traced.toSeq, probe)
  }

  /** Attach the listeners and switch the tracer on. */
  private def startTrace(ctx: Ctx, p: Probe): Unit = {
    p.attach()
    ctx.tracer.jobCount = () => p.jobsNow
    ctx.tracer.enabled = true
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** spark.*, plans.* and sources.* per op over the traced ops. */
  private def engineLayers(ctx: Ctx, probe: Probe, plain: Seq[Op], traced: Seq[Op]): Unit = {
    val c = probe.snapshot()
    val n = math.max(1, traced.size).toDouble
    val plans = probe.takePlans().map(Plans.summary)
    def planSum(k: String) = plans.map(_(k)).sum / n
    ctx.layers ++= Seq(
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.driver_gap_ms" -> traced.map(o => probe.driverGapMs(o.startMs, o.endMs)).sum / n,
      "spark.executor_run_ms" -> c.runMs / n,
      "spark.executor_cpu_ms" -> c.cpuNs / 1e6 / n,
      "spark.gc_ms" -> c.gcMs / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> c.shuffleRead / n,
      "spark.spill_bytes" -> c.spill / n,
      "spark.peak_exec_mem_bytes" -> c.peakExecMem.toDouble,
      "spark.task_skew" -> probe.taskSkew(),
      "sources.bytes_read" -> c.bytesRead / n,
      "sources.rows_read" -> c.rowsRead / n,
      "sources.scan_ms" -> planSum("scan_ms"),
      "plans.exchanges" -> planSum("exchanges"),
      "plans.sorts" -> planSum("sorts"),
      "plans.sort_ms" -> planSum("sort_ms"),
      "plans.spill_bytes" -> planSum("spill_bytes"))
    val self = ctx.tracer.selfMs()
    for (l <- Seq("api", "sources", "exec"))
      ctx.layers(s"trace.${l}_self_ms") = self.getOrElse(l, 0.0) / n
    ctx.layers("trace.spans") = ctx.tracer.spans.size.toDouble
    val base = median(plain.map(_.ms))
    ctx.layers("trace.overhead_pct") =
      if (base > 0 && traced.nonEmpty) (median(traced.map(_.ms)) / base - 1) * 100 else 0.0
    probe.detach()
  }

  /** Time inside `Graft` calls and their count, per traced op. */
  private def apiLayer(ctx: Ctx, ops: Int): Unit = {
    val api = ctx.tracer.spans.filter(_.layer == "api")
    ctx.layers("api.plan_ms") = api.map(s => (s.end - s.start) / 1e6).sum / math.max(1, ops)
    ctx.layers("api.calls") = api.size.toDouble / math.max(1, ops)
  }

  private def longsOut(path: String)(body: DataOutputStream => Unit): Unit = {
    val o = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    try body(o) finally o.close()
  }

  /** little-endian int64 for numpy */
  private def putLong(o: DataOutputStream, v: Long): Unit = o.writeLong(java.lang.Long.reverseBytes(v))

  private def readDoubles(path: String): Array[Double] = {
    val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(b.remaining / 8)(b.getDouble)
  }

  // ---- the paper's pipeline through the public API ---------------------

  private val ErrCents = "sum(cast(round(value * 100) as bigint))"

  private final class Pipeline(spark: SparkSession, ctx: Ctx) {
    private val tr = ctx.tracer
    val g: Graft = Graft(spark)

    def events() = {
      val raw = tr.span("sources", "Tables.events")(Tables.events(spark, ctx.in))
      tr.span("api", "Graft.events")(g.events("events", raw, time = "ts", key = "user_id"))
    }
    def errCents(ev: graft.core.EventTable) = tr.span("api", "Graft.versionedWhere")(
      g.versionedWhere(ev, "event_type = 'error'", ErrCents -> "err_cents"))
    def purchases(ev: graft.core.EventTable) = tr.span("api", "Graft.versionedWhere")(
      g.versionedWhere(ev, "event_type = 'purchase'", "count(1)" -> "purchases"))
    def join(probes: DataFrame, time: String, vt: VersionedTable) =
      tr.span("api", "Graft.pointInTimeJoin")(g.pointInTimeJoin(probes, time, vt))

    /** events -> two versioned tables -> examples -> two as-of joins */
    def trainingSet(): DataFrame = {
      val ev = events()
      val err = errCents(ev)
      val pur = purchases(ev)
      val ex = tr.span("api", "Graft.examples")(g.examples(ev,
        windowAgg = "count(case when event_type = 'error' then 1 end)",
        lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR"))
      join(join(ex, "_prediction_time", err), "_label_time", pur)
    }
  }

  // ---- backfill_large ---------------------------------------------------

  def backfill(spark: SparkSession, ctx: Ctx): Unit = {
    var p: Pipeline = null
    // every pass writes its training set (about 4 % of the input rows) for
    // the check; the set-up's warm-up pass is the same pass
    def pass(dir: String): Unit =
      ctx.tracer.span("exec", "write")(p.trainingSet().write.mode("overwrite").parquet(dir))
    setup(ctx, reps = 5) {
      Tables.prepare(spark)
      p = new Pipeline(spark, ctx)
      pass(s"${ctx.out}/setup")
    }
    val (plain, traced, probe) =
      timed(spark, ctx)(i => pass(s"${ctx.out}/backfill/$i"))
    ctx.report("passes") = plain.size + traced.size
    ctx.report("events") = spark.read.parquet(s"${ctx.in}/events.parquet").count()
    probe.foreach(engineLayers(ctx, _, plain, traced))
    if (ctx.trace) {
      apiLayer(ctx, traced.size)
      val ev = p.events()
      val err = p.errCents(ev).df.count()
      val pur = p.purchases(ev).df.count()
      val windowed = ev.df.where("event_type in ('error', 'purchase')").count()
      val out = spark.read.parquet(s"${ctx.out}/backfill/0")
      val ex = out.count()
      val hits = out.agg(count(col("err_cents")) + count(col("purchases"))).head.getLong(0)
      val events = ctx.report("events").asInstanceOf[Long]
      ctx.layers ++= Seq(
        "core.version_rows" -> (err + pur).toDouble,
        "core.version_yield" -> (err + pur).toDouble / math.max(1L, windowed),
        "ops.example_rows" -> ex.toDouble,
        "ops.trigger_yield" -> ex.toDouble / events,
        "ops.asof_probe_rows" -> 2.0 * ex,
        "ops.asof_hit_ratio" -> hits.toDouble / math.max(1L, 2 * ex))
      dedupLayers(spark, ctx)
    }
  }

  // ---- stream_examples --------------------------------------------------

  def stream(spark: SparkSession, ctx: Ctx): Unit = {
    import spark.implicits._
    val enc = Encoders.product[StreamEvent]
    val types = ctx.opt("event_types").split(",")
    val events: Array[StreamEvent] = {
      val b = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"${ctx.in}/events.bin")))
        .order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(b.remaining / 40)(StreamEvent(
        b.getLong, StreamingFlagship.fromMicros(b.getLong), b.getLong, types(b.getLong.toInt), b.getDouble))
    }
    val due = readDoubles(s"${ctx.in}/due.bin")
    val fixedS = ctx.opt("fixed_s").toDouble
    val satBlocks = ctx.opt("sat_blocks").toInt
    val nFixed = due.indexWhere(_ >= fixedS) match { case -1 => due.length; case k => k }
    val t0Us = StreamingFlagship.toMicros(events(0).ts)
    ctx.mark("load")

    final class Sink {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Array[TrainingExample])]
      val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
      val fn: (Dataset[TrainingExample], Long) => Unit = (ds, id) => {
        val rows = ds.collect()
        got.add((System.nanoTime, rows))
        lastBatch.set(id)
      }
    }
    var runs = 0
    def start(ms: MemoryStream[StreamEvent], sink: Sink): StreamingQuery = {
      runs += 1
      StreamingFlagship(ms.toDF()).writeStream
        .option("checkpointLocation", s"${ctx.out}/checkpoints/q$runs")
        .foreachBatch(sink.fn)
        .start()
    }

    // set-up: start the query, push three small batches through, stop
    setup(ctx, reps = 3) {
      val ms = MemoryStream[StreamEvent](spark, 4)(enc)
      val q = start(ms, new Sink)
      for (k <- 0 until 3) {
        ms.addData(events.slice(k * 5000, (k + 1) * 5000).toSeq)
        q.processAllAvailable()
      }
      q.stop()
    }

    val ms = MemoryStream[StreamEvent](spark, 4)(enc)
    val sink = new Sink
    val q = start(ms, sink)
    var probe: Option[Probe] = None
    val lagMs = ArrayBuffer.empty[Double]
    val startNs = System.nanoTime
    def elapsed: Double = (System.nanoTime - startNs) / 1e9

    // fixed rate, open loop: every event is added at its due instant
    var i = 0
    while (i < nFixed) {
      val now = elapsed
      if (ctx.trace && probe.isEmpty && now >= fixedS / 2) {
        probe = Some(new Probe(spark))
        startTrace(ctx, probe.get)
      }
      var j = i
      while (j < nFixed && due(j) <= now) j += 1
      if (j > i) {
        ms.addData(events.slice(i, j).toSeq)
        lagMs += (now - due(i)) * 1e3
        i = j
      } else Thread.sleep(5)
    }
    // saturation: the remaining events in equal blocks, each queued in one
    // call once everything before it is processed, so each saturation batch
    // takes exactly one block, queued whole before it starts, and never
    // waits for data. The sink runs before a batch commits, so once
    // everything is processed it has seen the last fixed-rate batch.
    q.processAllAvailable()
    ctx.mark("fixed_rate")
    val lastFixedBatch = sink.lastBatch.get
    val block = (events.length - nFixed) / satBlocks
    for (k <- 0 until satBlocks) {
      ms.addData(events.slice(nFixed + k * block, nFixed + (k + 1) * block).toSeq)
      q.processAllAvailable()
    }
    ctx.mark("saturation")
    val sent = events.length
    val maxTsUs = StreamingFlagship.toMicros(events(sent - 1).ts)
    // one more batch fires the event-time timers up to the last event
    def watermarkUs: Long = Option(q.lastProgress)
      .flatMap(pr => Option(pr.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s))
      .map(t => t.getEpochSecond * 1000000L + t.getNano / 1000).getOrElse(Long.MinValue)
    val waitUntil = System.nanoTime + 20000000000L
    while (watermarkUs < maxTsUs && System.nanoTime < waitUntil) Thread.sleep(5)
    Thread.sleep(50)
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    q.stop()
    ctx.mark("drain")

    // latency: from the instant the event clock reached the label time
    val warm = 1.5
    val tail = 1.5
    val lat = ArrayBuffer.empty[Double]
    sink.got.forEach { case (recv, rows) =>
      rows.foreach { ex =>
        val d = (StreamingFlagship.toMicros(ex._label_time) - t0Us) / 3.6e9
        if (d >= warm && d <= fixedS - tail) lat += (recv - startNs) / 1e6 - d * 1e3
      }
    }
    def startOf(pr: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
      java.time.Instant.parse(pr.timestamp).toEpochMilli
    def dur(pr: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val sat = progress.filter(pr => pr.batchId > lastFixedBatch && pr.numInputRows > 0)
    ctx.report("latency_ms") = lat.toSeq
    ctx.report("generator_lag_ms") = lagMs.toSeq
    ctx.report("sat_rows") = sat.map(_.numInputRows)
    ctx.report("sat_ms") = sat.map(dur(_, "triggerExecution"))
    ctx.report("events_sent") = sent
    ctx.report("final_watermark_us") = watermarkUs
    ctx.report("batch_ms") = progress.map(dur(_, "triggerExecution"))

    longsOut(s"${ctx.out}/examples.bin") { o =>
      sink.got.forEach { case (_, rows) =>
        rows.foreach { ex =>
          putLong(o, ex._entity)
          putLong(o, StreamingFlagship.toMicros(ex._prediction_time))
          putLong(o, StreamingFlagship.toMicros(ex._label_time))
          putLong(o, ex.err_cents.getOrElse(Null))
          putLong(o, ex.purchases.getOrElse(Null))
        }
      }
    }

    probe.foreach { p =>
      p.drain()
      val prs = p.synchronized(p.progress.toSeq)
      val fixedPr = prs.filter(_.batchId <= lastFixedBatch)
      def med(xs: Seq[Double]) = median(xs)
      def stateOf(pr: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        pr.stateOperators.headOption
      val last = prs.lastOption
      ctx.layers ++= Seq(
        "streaming.batches" -> prs.size.toDouble,
        "streaming.batch_ms" -> med(fixedPr.map(dur(_, "triggerExecution"))),
        "streaming.planning_ms" -> med(fixedPr.map(dur(_, "queryPlanning"))),
        "streaming.add_batch_ms" -> med(fixedPr.map(dur(_, "addBatch"))),
        "streaming.wal_commit_ms" -> med(fixedPr.map(dur(_, "walCommit"))),
        "streaming.commit_offsets_ms" -> med(fixedPr.map(dur(_, "commitOffsets"))),
        "streaming.latest_offset_ms" -> med(fixedPr.map(dur(_, "latestOffset"))),
        "streaming.state_rows" -> last.flatMap(stateOf).map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_mem_bytes" -> last.flatMap(stateOf).map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.state_commit_ms" -> med(fixedPr.flatMap(stateOf).map(_.commitTimeMs.toDouble)),
        "streaming.late_dropped_rows" -> prs.flatMap(stateOf).map(_.numRowsDroppedByWatermark.toDouble).sum,
        "streaming.watermark_lag_ms" -> med(fixedPr.flatMap { pr =>
          for (mx <- Option(pr.eventTime.get("max")); wm <- Option(pr.eventTime.get("watermark")))
            yield (java.time.Instant.parse(mx).toEpochMilli -
              java.time.Instant.parse(wm).toEpochMilli).toDouble
        }),
        "streaming.backlog_rows" -> (if (sat.isEmpty) 0.0 else sat.map(_.numInputRows.toDouble).sum / sat.size),
        "streaming.generator_lag_ms" -> med(lagMs.toSeq))
      // engine counters per traced batch; the overhead compares fixed-rate
      // batches before and after the listeners were registered
      def op(pr: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        Op(dur(pr, "triggerExecution"), startOf(pr), startOf(pr) + dur(pr, "triggerExecution").toLong)
      val traced = prs.map(op)
      val untraced = progress.filter(pr => pr.batchId <= lastFixedBatch &&
        !prs.exists(_.batchId == pr.batchId)).map(op)
      engineLayers(ctx, p, untraced, traced)
      val base = median(untraced.map(_.ms))
      ctx.layers("trace.overhead_pct") =
        if (base > 0 && fixedPr.nonEmpty) (median(fixedPr.map(op).map(_.ms)) / base - 1) * 100
        else 0.0
    }
  }

  // ---- graft.ext and graft.functions, in the traced backfill run ------

  /** One `Graft.duplicateClusters` call on the seeded corpus (written for
    * the check, so recall and cluster connectivity are verified), then the
    * two steps it composes and the two kernels under them, each timed by a
    * standalone call, best of three. */
  private def dedupLayers(spark: SparkSession, ctx: Ctx): Unit = {
    import spark.implicits._
    val threshold = 0.7
    val docs = Tables.load(spark, ctx.in, "documents")
    val rows = Graft(spark).duplicateClusters(docs, threshold)
      .select("doc_id", "cluster_root").collect()
    longsOut(s"${ctx.out}/clusters.bin") { o =>
      rows.foreach { r => putLong(o, 0L); putLong(o, r.getLong(0)); putLong(o, r.getLong(1)) }
    }
    ctx.layers("ext.clusters") = rows.groupBy(_.getLong(1)).count(_._2.length > 1).toDouble
    def best(f: => Unit): Double = (1 to 3).map { _ =>
      val t = System.nanoTime; f; System.nanoTime - t }.min.toDouble
    var pairs = Array.empty[(Long, Long)]
    ctx.layers("ext.pairs_ms") = best {
      pairs = Dedup.minhashNearDup(docs, threshold).select("doc_a", "doc_b").as[(Long, Long)].collect()
    } / 1e6
    val pairDf = pairs.toSeq.toDF("doc_a", "doc_b")
    ctx.layers("ext.cluster_ms") = best(
      Dedup.resolveClusters(docs, pairDf).select("doc_id", "cluster_root").collect()) / 1e6
    ctx.layers("ext.verified_pairs") = pairs.length.toDouble
    // kernel probes: per-document cost of shingling and signatures
    val nDocs = rows.length.toDouble
    ctx.layers("functions.shingle_ns_per_doc") = best(
      Dedup.docShingles(docs).write.format("noop").mode("overwrite").save()) / nDocs
    val sh = Dedup.docShingles(docs).persist()
    sh.count()
    ctx.layers("functions.minhash_ns_per_doc") = best(
      Dedup.minhashSignatures(sh, 9).write.format("noop").mode("overwrite").save()) / nDocs
    sh.unpersist()
    ctx.mark("dedup_layers")
  }
}

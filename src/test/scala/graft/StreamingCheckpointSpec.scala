package graft

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.streaming.{StreamingFlagship, StreamingOps}
import graft.streaming.StreamingFlagship.{StreamEvent, TrainingExample}
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** A `StreamingFlagship` query's durable `file:` checkpoint: commits
  * start no process, and a query stopped between micro-batches resumes
  * from its checkpoint, whichever `file:` binding wrote it, with the
  * examples of an uninterrupted run. A bounded `StreamingOps` drain's
  * scratch checkpoint commits start no process either. */
class StreamingCheckpointSpec extends AnyFunSuite with SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private val HadoopLocalFs = "org.apache.hadoop.fs.local.LocalFs"
  private val BindingKey = "fs.AbstractFileSystem.file.impl"
  private val HdfsStateStore =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val EventSchema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE"

  private type Row5 = (Long, Long, Long, Option[Long], Option[Long])
  private def row(e: TrainingExample): Row5 =
    (e._entity, StreamingFlagship.toMicros(e._prediction_time),
      StreamingFlagship.toMicros(e._label_time), e.err_cents, e.purchases)

  /** 40 users over 8 event-hours, in time order: errors (some negative),
    * purchases and views, with runs of errors that fire examples. */
  private val events: Seq[StreamEvent] = {
    val rnd = new scala.util.Random(7)
    val t0 = java.sql.Timestamp.valueOf("2021-08-21 00:00:00").getTime
    val types = Array("error", "error", "error", "purchase", "view")
    (0 until 1600).map { i =>
      val ts = new java.sql.Timestamp(t0 + i * 18000L)
      StreamEvent(i.toLong, ts, (rnd.nextInt(40)).toLong, types(rnd.nextInt(types.length)),
        (rnd.nextInt(2001) - 500) / 100.0)
    }
  }
  /** Ends the stream: moves the watermark past every label time. */
  private def sentinel(after: Seq[StreamEvent]) =
    StreamEvent(-1L, new java.sql.Timestamp(after.map(_.ts.getTime).max + 10L * 3600 * 1000),
      -999L, "view", 0.0)

  private val dirs = ArrayBuffer.empty[JPath]
  private def tmp(prefix: String): JPath = {
    val d = Files.createTempDirectory(prefix)
    dirs += d
    d
  }

  override def afterAll(): Unit =
    try dirs.foreach { d =>
      scala.util.Using.resource(Files.walk(d))(_.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    } finally super.afterAll()

  /** Each chunk a JSON file with distinct modification times, so the
    * file source takes them one per micro-batch in chunk order. */
  private def writeChunks(dir: JPath, chunks: Seq[(Seq[StreamEvent], Int)]): Unit =
    chunks.foreach { case (chunk, k) =>
      val f = dir.resolve(f"chunk-$k%03d.json")
      val lines = chunk.map { e =>
        val ts = java.time.Instant.ofEpochMilli(e.ts.getTime).toString
        s"""{"event_id":${e.event_id},"ts":"$ts","user_id":${e.user_id},""" +
          s""""event_type":"${e.event_type}","value":${e.value}}"""
      }
      Files.write(f, lines.asJava)
      f.toFile.setLastModified(1600000000000L + k * 1000L)
    }

  /** Drain every file in `src` through StreamingFlagship into the
    * checkpoint `ckpt`, one file per micro-batch, in `session`. */
  private def drain(session: SparkSession, src: JPath, ckpt: JPath): Seq[Row5] = {
    val got = ArrayBuffer.empty[Row5]
    val sink: (Dataset[TrainingExample], Long) => Unit =
      (ds, _) => got.synchronized { got ++= ds.collect().map(row) }
    val stream = session.readStream
      .schema(EventSchema)
      .option("maxFilesPerTrigger", 1)
      .json(src.toString)
    val q = StreamingFlagship(stream).writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(sink)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    got.toSeq
  }

  private def chunks: Seq[(Seq[StreamEvent], Int)] = {
    val cs = events.grouped(200).toSeq
    (cs :+ Seq(sentinel(events))).zipWithIndex
  }

  private def uninterrupted: Seq[Row5] = {
    val src = tmp("graft_ckpt_src")
    writeChunks(src, chunks)
    drain(spark, src, tmp("graft_ckpt_full")).sorted
  }

  /** Run the first `cut` chunks in `first`, then the rest from the same
    * checkpoint in the default session. */
  private def resumed(first: SparkSession, cut: Int): (Seq[Row5], Seq[Row5]) = {
    val src = tmp("graft_ckpt_src")
    val ckpt = tmp("graft_ckpt_resume")
    writeChunks(src, chunks.take(cut))
    val a = drain(first, src, ckpt)
    writeChunks(src, chunks.drop(cut))
    val b = drain(spark, src, ckpt)
    (a, b)
  }

  test("stopped mid-stream and restarted from its checkpoint: the uninterrupted run's examples") {
    val full = uninterrupted
    assert(full.nonEmpty)
    val (a, b) = resumed(spark, 4)
    assert(spark.conf.get(BindingKey) === classOf[graft.streaming.LocalFs].getName)
    assert(a.nonEmpty && b.nonEmpty)
    // state crossed the restart: examples predicted before the cut matured after it
    val cutUs = StreamingFlagship.toMicros(chunks(3)._1.last.ts)
    assert(b.exists(_._2 <= cutUs))
    assert((a ++ b).sorted === full)
  }

  test("a checkpoint written through Hadoop's own LocalFs resumes through graft's") {
    val full = uninterrupted
    val parent = spark.newSession()
    parent.conf.set(BindingKey, HadoopLocalFs)
    val (a, b) = resumed(parent, 3)
    // ensure left the explicit binding alone
    assert(parent.conf.get(BindingKey) === HadoopLocalFs)
    assert(a.nonEmpty && b.nonEmpty)
    assert((a ++ b).sorted === full)
  }

  /** `body`'s result and the JFR events recorded while it ran: every
    * process start, with its stack, and every file write. */
  private def recording[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.enable("jdk.FileWrite").withoutThreshold()
    rec.start()
    val out = try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      (out, RecordingFile.readAllEvents(dump).asScala.toSeq)
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** No process start among `events`, leaving out two threads that are
    * not the query's commit path: the JDK's shared Cleaner thread deletes
    * the artifact directories of dropped sessions (`rm -rf`), and Spark's
    * driver and executor heartbeaters each ask `getconf PAGESIZE` once for
    * their process-tree metrics. */
  private def assertNoStarts(events: Seq[RecordedEvent]): Unit = {
    val starts = events.filter(_.getEventType.getName == "jdk.ProcessStart")
      .filterNot(e => Option(e.getThread("eventThread")).map(_.getJavaName)
        .exists(t => t.startsWith("Cleaner") || t.endsWith("-heartbeater")))
    assert(starts.isEmpty,
      s"${starts.size} process starts, first: ${starts.headOption.map(_.getString("command")).orNull}")
  }

  test("micro-batch commits on a file: checkpoint start no process") {
    val ckpt = tmp("graft_ckpt_forks")
    val input = MemoryStream[StreamEvent](spark, 4)(
      org.apache.spark.sql.Encoders.product[StreamEvent])
    val sink: (Dataset[TrainingExample], Long) => Unit = (ds, _) => { ds.collect(); () }
    val (q, jfr) = recording {
      // the default (HDFS-backed) state store, whatever an earlier suite
      // left in the shared session: its delta and checksum files are the
      // commits under test
      val q = withConf("spark.sql.streaming.stateStore.providerClass" -> HdfsStateStore) {
        StreamingFlagship(input.toDF()).writeStream
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch(sink)
          .start()
      }
      try {
        events.grouped(400).foreach { c => input.addData(c); q.processAllAvailable() }
      } finally q.stop()
      q
    }
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"$batches micro-batches with data")
    // the stores committed delta files through the checkpoint
    assert(Files.walk(ckpt.resolve("state")).iterator().asScala.exists(_.toString.endsWith(".delta")))
    assertNoStarts(jfr)
  }

  test("a bounded drain's scratch checkpoint commits start no process") {
    val src = tmp("graft_ckpt_src")
    writeChunks(src, chunks)
    // a fresh session: the LocalFs binding is not yet set in it, and its
    // state store is the default HDFS-backed one
    val session = spark.newSession()
    val stream = session.readStream.schema(EventSchema)
      .option("maxFilesPerTrigger", 1).json(src.toString)
    val (log, jfr) = recording {
      StreamingOps.changelog(stream, "ts", "1 hour", Seq("user_id"),
        Seq(sum(col("value")).as("total")), statePartitions = Some(2)).collect()
    }
    assert(log.map(_.getLong(1)).distinct.length >= 3)
    // the drain wrote real state-store deltas under its scratch root
    // (each through a temp file renamed into place)
    val writes = jfr.filter(_.getEventType.getName == "jdk.FileWrite")
      .map(_.getString("path")).filter(_ != null)
    assert(writes.exists(p => p.contains("graft_ckpt_changelog") && p.contains(".delta")),
      s"${writes.size} file writes, none a scratch state-store delta")
    assertNoStarts(jfr)
  }
}

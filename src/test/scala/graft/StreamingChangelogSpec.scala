package graft

import graft.streaming.{LocalFs, StreamingOps}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Changelog/retraction fidelity (reference App.java:83 toChangelogStream):
  * the update-mode aggregation's changelog view must emit Flink RowKind
  * sequences — `+I` on first appearance, `-U`/`+U` pairs on every change —
  * and replaying the log must reconstruct the batch aggregation exactly. */
class StreamingChangelogSpec extends AnyFunSuite with SparkSpec {

  /** Three time-ordered slices with overlapping users, written as separate
    * parquet files so maxFilesPerTrigger=1 forces THREE microbatches. */
  private def buildStreamDir(): (String, org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cl_src").toFile
    val slices = Seq(
      Seq((1L, "2024-01-01 00:00:00", 10.0), (2L, "2024-01-01 00:05:00", 5.0)),
      Seq((1L, "2024-01-01 01:00:00", 7.0), (3L, "2024-01-01 01:10:00", 2.0)),
      Seq((2L, "2024-01-01 02:00:00", 1.0), (1L, "2024-01-01 02:30:00", 3.0)))
    var schema: org.apache.spark.sql.types.StructType = null
    slices.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("user_id", "ts_s", "value")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("value"))
      schema = df.schema
      val stage = java.nio.file.Files.createTempDirectory(s"graft_cl_stage_$i").toFile
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, f"slice_$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      // FileStreamSource orders by modification time: make it increase
      dest.setLastModified(1700000000000L + i * 60000L)
    }
    (dir.toString, schema)
  }

  test("changelog emits +I then -U/+U pairs and replays to the batch state") {
    val (dir, schema) = buildStreamDir()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val cl = StreamingOps.changelog(
      stream, "ts", "1000 hours", Seq("user_id"),
      Seq(sum(col("value")).as("total")))
      .orderBy("batch_id", "user_id", "op")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // three distinct microbatches actually happened
    assert(cl.map(_._2).distinct.length === 3)

    def opsFor(user: Long) =
      cl.filter(_._3 == user).sortBy(t => (t._2, t._1)).map(t => (t._1, t._4))
    // user 1: 10 -> 17 -> 20 (touched in every batch)
    assert(opsFor(1L).toSeq === Seq(
      ("+I", 10.0), ("+U", 17.0), ("-U", 10.0), ("+U", 20.0), ("-U", 17.0)))
    // user 2: 5 -> 6 (skips the middle batch)
    assert(opsFor(2L).toSeq === Seq(("+I", 5.0), ("+U", 6.0), ("-U", 5.0)))
    // user 3: single insert
    assert(opsFor(3L).toSeq === Seq(("+I", 2.0)))

    // every retraction retracts the exact previously-emitted value
    assert(cl.count(_._1 == "-U") === cl.count(_._1 == "+U"))

    // replay reconstructs the batch aggregation
    val clDf = {
      val stream2 = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      StreamingOps.changelog(stream2, "ts", "1000 hours", Seq("user_id"),
        Seq(sum(col("value")).as("total")))
    }
    val replayed = StreamingOps.replayChangelog(clDf, Seq("user_id"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batch = spark.read.schema(schema).parquet(dir)
      .groupBy("user_id").agg(sum(col("value")).as("total"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(replayed.toSeq === batch.toSeq)
  }

  test("empty stream yields an empty changelog with the right schema") {
    val (dir, schema) = buildStreamDir()
    val stream = spark.readStream.schema(schema).parquet(dir)
      .where(col("user_id") < 0)
    val cl = StreamingOps.changelog(
      stream, "ts", "1000 hours", Seq("user_id"),
      Seq(sum(col("value")).as("total")))
    assert(cl.columns.toSeq === Seq("op", "batch_id", "user_id", "total"))
    assert(cl.count() === 0)
  }

  test("a drain leaves the session's conf as it found it") {
    val (dir, schema) = buildStreamDir()
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val total = Seq(sum(col("value")).as("total"))
    // the LocalFs binding is the one setting a drain keeps in its session
    LocalFs.ensure(spark)
    val before = spark.conf.getAll
    assert(StreamingOps.changelog(stream, "ts", "1000 hours", Seq("user_id"), total)
      .count() > 0)
    assert(StreamingOps.runToParquet(
      StreamingOps.tumbling(stream, "ts", "0 seconds", "1 hour", Seq("user_id"), total),
      "spec_side_effects", statePartitions = Some(3)).count() > 0)
    // every conf, the shuffle partitions runToParquet pinned included
    assert(spark.conf.getAll === before)
    // a durable query started after the drains checkpoints through
    // Spark's default manager
    val m = CheckpointFileManager.create(
      new org.apache.hadoop.fs.Path(dir), spark.sessionState.newHadoopConf())
    assert(m.isInstanceOf[FileContextBasedCheckpointFileManager], m.getClass.getName)
  }
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming counterparts of the batch operators (SURVEY.md §2.6):
  * watermark declaration is a parameter everywhere (the reference hard-codes
  * zero lateness, App.java:121; T1), and the changelog/versioned-table
  * machinery (T2/T3) becomes either update-mode aggregation state or the
  * explicit per-key state of [[StreamingFlagship]]. */
object StreamingOps {

  /** `events` with its watermark declared; every query builder below
    * starts here, so the session checkpoints through [[LocalFs]]. */
  private def watermarked(events: DataFrame, timeCol: String, delay: String): DataFrame = {
    LocalFs.ensure(events.sparkSession)
    events.withWatermark(timeCol, delay)
  }

  /** Continuous grouped aggregation (A1/A2 streaming form): the query
    * result is the dynamic table; read it in update/complete output mode.
    * State = one row per key (Spark's streaming-agg state store). */
  def runningAggregate(
      events: DataFrame, timeCol: String, delay: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    watermarked(events, timeCol, delay)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Tumbling event-time window aggregation; append mode emits each window
    * once the watermark passes its end. */
  def tumbling(
      events: DataFrame, timeCol: String, delay: String, width: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    watermarked(events, timeCol, delay)
      .groupBy((window(col(timeCol), width) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows with an inactivity gap. */
  def sessionized(
      events: DataFrame, timeCol: String, delay: String, gap: String,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    watermarked(events, timeCol, delay)
      .groupBy((session_window(col(timeCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming exact dedup bounded by the watermark (state stays finite). */
  def dedupWithinWatermark(
      events: DataFrame, timeCol: String, delay: String,
      keys: Seq[String]): DataFrame =
    watermarked(events, timeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Changelog view of a continuous grouped aggregation WITH RETRACTION
    * rows — the reference's `toChangelogStream` RowKind semantics
    * (App.java:83): `+I` the first value emitted for a key, then for every
    * change a `-U` retracting the prior value followed by a `+U` carrying
    * the replacement. Spark's update output mode already emits exactly
    * the latest row per CHANGED key each microbatch, so the emitted rows
    * ARE the changelog minus the retractions — each batch is captured
    * once with [[graft.ext.Lineage.cut]] (LogicalRDD-backed; rows stay
    * distributed, no driver buffering), and the `-U` half is
    * reconstructed AFTER the drain by one `lag()` window per key over
    * batch_id on the captured log. That replaces the previous
    * per-microbatch snapshot join (two lineage cuts + a key-diff join
    * every batch) with one cut per batch plus a single bounded window:
    * the log volume is the number of (batch, changed-key) emissions —
    * the same rows either way — and the window shuffles once on the keys.
    *
    * Output: (op, batch_id, keys*, values*). Within one batch a key
    * contributes either one `+I` or a `-U`/`+U` pair; batches are atomic
    * units for replay. [[replayChangelog]] folds the log back into the
    * final dynamic-table state (tested equal to the batch aggregation). */
  def changelog(
      events: DataFrame, timeCol: String, delay: String,
      keys: Seq[String], aggs: Seq[Column],
      statePartitions: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = events.sparkSession
    val agg = runningAggregate(events, timeCol, delay, keys, aggs)
    val valCols = agg.schema.fieldNames.filterNot(keys.contains).toSeq
    val logSchema = StructType(
      StructField("op", StringType, nullable = false) +:
        StructField("batch_id", LongType, nullable = false) +: agg.schema.fields)
    val batchFrames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    withScratchCheckpoint("changelog") { ckpt =>
      val q = withShufflePartitions(spark, statePartitions)(agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Row], bid: Long) =>
          batchFrames.add(graft.ext.Lineage.cut(
            batch.toDF().withColumn("batch_id", lit(bid))))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
      q.awaitTermination()
    }
    val frames = scala.jdk.CollectionConverters.IteratorHasAsScala(
      batchFrames.iterator()).asScala.toSeq
    if (frames.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id"))
    // cut: the three op branches below each reference this frame, and
    // without a lineage barrier Spark would re-run the window sort over
    // the full batch log once PER branch
    val log = graft.ext.Lineage.cut(frames.reduce(_ union _).select(
      (col("batch_id") +: lag(col("batch_id"), 1).over(w).as("__p_b") +:
        keys.map(col)) ++
        valCols.flatMap(c =>
          Seq(col(c), lag(col(c), 1).over(w).as(s"__p_$c"))): _*))
    def outCols(op: String, old: Boolean) =
      lit(op).as("op") +: col("batch_id") +:
        (keys.map(col) ++ valCols.map(c => if (old) col(s"__p_$c").as(c) else col(c)))
    log.where(col("__p_b").isNull).select(outCols("+I", old = false): _*)
      .union(log.where(col("__p_b").isNotNull).select(outCols("-U", old = true): _*))
      .union(log.where(col("__p_b").isNotNull).select(outCols("+U", old = false): _*))
  }

  /** Fold an op-tagged changelog (from [[changelog]]) back into dynamic-
    * table state: the latest non-retraction row per key wins. */
  def replayChangelog(cl: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cl.where(col("op") =!= "-U")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)))
      .where(col("__rn") === 1)
      .drop("__rn", "op", "batch_id")
  }

  /** State-store instance count for a BOUNDED drain of the given source
    * files: one store per ~32 MB of input, floored at 8 (the stateful
    * replay work — e.g. [[StreamingFunnel]]'s per-key cascade — still
    * needs parallel slots) and capped at the session's shuffle
    * partitions, so at deployment scale this reproduces the session
    * setting unchanged. The session cap DOMINATES the floor: with
    * session shuffle partitions below 8 (e.g. the Bench default
    * SPARK_GRAFT_CPUS=4), the result is the session value — on a box
    * that small, extra store partitions would only add init/commit
    * overhead with no parallelism to gain, so the degradation of the
    * 1 MB/partition tuning there is deliberate. Rationale: AQE coalesces the batch jobs of a
    * stateless foreachBatch drain automatically, but STATEFUL streaming
    * operators bypass AQE and pin one state store per shuffle partition
    * — measured at sf0.1, 32 stores cost a stateful query ~1.1-1.3 s of
    * store init/commit overhead vs 8 (tools/StateOverheadProbe). That
    * cost is per store, not the `chmod`/`readlink` forks [[LocalFs]]
    * removed: re-measured without them (durable checkpoints on tmpfs,
    * local[4], 32 shuffle partitions), the six stateful q_stream rows
    * still took ~1.1 s more each on 32 stores than on 8 (ROADMAP item 4). */
  def boundedStatePartitions(
      spark: org.apache.spark.sql.SparkSession, paths: String*): Int =
    boundedStatePartitions(spark, 32L * 1024 * 1024, paths: _*)

  /** As above with an explicit per-partition input-byte density — the
    * per-OPERATOR knob: store-dominated aggregations keep the default
    * 32 MB/partition (few stores, the overhead win), while replay-CPU-
    * bound state (e.g. [[StreamingFunnel]]'s per-key cascade sort) sizes
    * at ~1 MB/partition so drain parallelism grows with volume instead
    * of pinning heavy per-key compute onto the floor-8 cores (measured:
    * funnel at x10 ran 8.9 s on 8 partitions vs 6.1 s on 32). */
  def boundedStatePartitions(
      spark: org.apache.spark.sql.SparkSession, bytesPerPartition: Long,
      paths: String*): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val bytes = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(session,
      math.max(8, math.ceil(bytes / bytesPerPartition.toDouble).toInt))
  }

  /** Scratch checkpoint root for BOUNDED drains whose result is handed
    * back in-session: nothing ever resumes from such a checkpoint (the
    * query is created, drained with AvailableNow, and discarded inside
    * one call), so it is disposable by construction and is deleted when
    * the drain returns. It lives on tmpfs (/dev/shm, else the JVM temp
    * dir): the per-batch offset/commit logs, the file-source seen-files
    * log and every state-store delta are written through Spark's
    * default checkpoint manager over [[LocalFs]] (bound by both callers
    * before their streams are built), and on a RAM-backed filesystem
    * those create+rename commits cost no disk round-trip. Deployed
    * continuous queries must keep durable shared-storage checkpoints —
    * the sinkDir mode and [[graft.ext.IvfIndex.appendOnIngest]]
    * deliberately do. */
  private def withScratchCheckpoint[T](name: String)(body: String => T): T = {
    val base =
      if (new java.io.File("/dev/shm").isDirectory)
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    reapStaleScratch(base)
    val dir = java.nio.file.Files
      .createTempDirectory(base, s"graft_ckpt_$name")
    try body(dir.toString)
    finally deleteRecursively(dir)
  }

  /** Recursive delete with the Files.walk stream CLOSED (an unclosed
    * walk holds directory handles until GC); best-effort — a failed
    * delete is left for [[reapStaleScratch]]. */
  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters.IteratorHasAsScala
      scala.util.Using.resource(java.nio.file.Files.walk(dir)) { s =>
        s.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Reap graft_ckpt_* leftovers from hard-crashed runs: the scratch
    * base is memory-backed (/dev/shm), so crash leftovers consume RAM,
    * not disk — every scratch-checkpoint entry sweeps trees whose
    * NEWEST entry (deep max mtime, not the root's — a write into a
    * nested offsets/ dir never touches the root's own mtime) is over an
    * hour old. A crashed drain leaves its whole checkpoint behind —
    * offset and commit logs, state-store deltas and snapshots — so
    * without this sweep every hard crash would hold that RAM until
    * reboot. */
  private def reapStaleScratch(base: java.nio.file.Path): Unit =
    try {
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      import scala.jdk.CollectionConverters.IteratorHasAsScala
      def newestMtime(root: java.nio.file.Path): Long =
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
          s.iterator().asScala
            .map(p => java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .foldLeft(0L)(math.max)
        }
      scala.util.Using.resource(java.nio.file.Files.list(base)) { s =>
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("graft_ckpt_"))
          .toSeq
          .filter(p => newestMtime(p) < cutoff)
          .foreach(deleteRecursively)
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Pins spark.sql.shuffle.partitions around a bounded streaming run
    * (the conf is read once at query start and governs the stateful
    * operators' store count); restored afterwards. */
  private def withShufflePartitions[T](
      spark: org.apache.spark.sql.SparkSession, n: Option[Int])(
      body: => T): T = n match {
    case None => body
    case Some(parts) =>
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, parts)
      try body finally spark.conf.set(key, prev)
  }

  /** Drain a streaming DataFrame (AvailableNow) through a DISTRIBUTED sink
    * and hand the result back as a batch DataFrame: each microbatch appends
    * to parquet via foreachBatch — executors write their own partitions, so
    * results never funnel through driver memory the way `format("memory")`
    * buffers them.
    *
    * Sink location: `sinkDir` when given — the production S4 shape, shared
    * storage the user designates; output stays there and the returned frame
    * reads it. When omitted, a scratch dir under the session's warehouse
    * dir (shared storage on a real cluster, unlike a driver-local temp
    * path) is used, the bounded result is materialized off it, and the
    * scratch dir is deleted — nothing leaks per run. */
  def runToParquet(
      df: DataFrame, name: String, sinkDir: Option[String] = None,
      statePartitions: Option[Int] = None): DataFrame =
    runBatchesToParquet(df, name, identity, sinkDir, statePartitions)

  /** As [[runToParquet]], but each microbatch is first passed through
    * `transform` — the escape hatch for per-batch logic Structured
    * Streaming cannot express statefully (joins + aggregations against
    * static reference frames, e.g. containment-on-ingest). The output
    * schema is captured from the FIRST transformed batch; only a
    * zero-batch stream pays an empty-batch `transform` application to
    * type its empty result. (Deriving it eagerly up front cost each
    * drain a full dry-run of the transform: probe transforms like
    * `DedupIndex.searchAgainst` collect candidate lists, open the index
    * parquet, and localCheckpoint even on an empty frame — measured
    * 0.2-0.6 s of pure schema-derivation overhead per streaming query.)
    *
    * Two sink modes: with `sinkDir` (the production S4 shape) each batch
    * appends parquet to the user-designated shared storage and the
    * returned frame reads it back. Without (the bounded gate/bench
    * drain) each batch is instead materialized in place with
    * [[graft.ext.Lineage.cut]] (LogicalRDD-backed, rows stay on the
    * executors — the same discipline as [[changelog]]) and the union of
    * batch frames is returned: no parquet task-commit/fsync round-trip
    * and no re-read scan per run, which was the single biggest share of
    * the per-query streaming fixed overhead at bench scale. */
  def runBatchesToParquet(
      df: DataFrame, name: String,
      transform: DataFrame => DataFrame,
      sinkDir: Option[String] = None,
      statePartitions: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.{Dataset, Row}
    val spark = df.sparkSession
    LocalFs.ensure(spark)
    // captured from the first transformed batch; the zero-batch fallback
    // is the only path that ever APPLIES transform to an empty frame
    val seenSchema = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.types.StructType]()
    def outSchema = Option(seenSchema.get).getOrElse(transform(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)).schema)
    def emptyOut =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    sinkDir match {
      case Some(dir) =>
        val q = withShufflePartitions(spark, statePartitions)(df.writeStream
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            // the batch analyzes in the CLONED streaming session — make
            // every statically-named kernel resolvable there
            graft.functions.GraftFunctions.registerAll(batch.sparkSession)
            val t = transform(batch.toDF())
            seenSchema.compareAndSet(null, t.schema)
            t.write.mode("append").parquet(dir)
          }
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
        q.awaitTermination()
        val hPath = new org.apache.hadoop.fs.Path(dir)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // zero-batch stream: no files were written; preserve the schema
        val wrote = fs.exists(hPath) &&
          fs.listStatus(hPath).exists(_.getPath.getName.endsWith(".parquet"))
        if (wrote) spark.read.schema(outSchema).parquet(dir) else emptyOut
      case None =>
        // batch frames built ONLY from lineage-cut inputs stay valid
        // after the microbatch's own frame dies (every batch is cut,
        // including the watermark-advancing no-data batch — append-mode
        // operators emit their finalized windows exactly there)
        val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
        withScratchCheckpoint(name) { ckpt =>
          val q = withShufflePartitions(spark, statePartitions)(df.writeStream
            .foreachBatch { (batch: Dataset[Row], _: Long) =>
              graft.functions.GraftFunctions.registerAll(batch.sparkSession)
              frames.add(graft.ext.Lineage.cut(transform(batch.toDF())))
              ()
            }
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
          q.awaitTermination()
        }
        val fs = scala.jdk.CollectionConverters.IteratorHasAsScala(
          frames.iterator()).asScala.toSeq
        if (fs.isEmpty) emptyOut else fs.reduce(_ union _)
    }
  }
}

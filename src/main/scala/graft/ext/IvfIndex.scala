package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVFADC index as cell-partitioned parquet — the at-rest layout
  * a 100 TB ANN deployment actually uses: encode ONCE, then every search
  * touches only its probed cells.
  *
  *  - `build` writes [[IvfPq.encode]]'s (vec_id, codes, dqnrm) rows
  *    `partitionBy("cell")` plus a one-row-per-cell/subspace model sidecar
  *    (centroids + PQ codebooks as parquet — no JSON, no driver pickle).
  *  - `search` turns the probe set's nprobe cells into a
  *    `cell IN (...)` predicate: Spark's partition pruning skips every
  *    unprobed cell DIRECTORY at file-listing time, so scan cost is
  *    O(probed cells), not O(corpus). The probed-cell set is bounded
  *    (|probes| x nprobe small ints) and collected driver-side exactly like
  *    quantizer training samples.
  *  - re-encoding is gone from the query path; the exact re-rank reads
  *    original vectors for the few survivors only.
  *
  * The index is immutable-at-path (parquet overwrite semantics); append of
  * new vectors = encode the delta with [[load]]'s model and append into the
  * same partition layout. */
object IvfIndex {

  private def spark = SparkSession.active

  /** Encode the corpus with `model` and write the cell-partitioned index +
    * model sidecars under `path`. */
  def build(emb: DataFrame, model: IvfPq.Model, path: String): Unit = {
    // cluster rows by cell BEFORE the partitioned write: otherwise every
    // write task emits a sliver file into every cell directory
    // (tasks x cells tiny files); hash-partitioned on cell each directory
    // gets one file per owning task
    IvfPq.encode(emb, model)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val (fs, logDir) = hadoopFs(s"$path/_append_log")
    if (fs.exists(logDir)) fs.delete(logDir, true)
    writeCountFile(s"$path/_base_count", emb.count())
    val sp = spark
    import sp.implicits._
    val dim = model.centroids.head.length
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    val pq = model.pq
    Seq((pq.m, pq.k, pq.dsub, dim, pq.flat.toSeq, pq.normSq.toSeq))
      .toDF("m", "k", "dsub", "dim", "flat", "norm_sq")
      .write.mode("overwrite").parquet(s"$path/pq")
  }

  /** Append new vectors into an existing index: encode the delta with the
    * SAVED model (centroids and codebooks are immutable once built — the
    * standard IVF contract; retraining is a rebuild) and append the code
    * rows into the same cell-partitioned layout. Each delta batch adds at
    * most one file per touched cell directory, and searches see the new
    * rows on their next file listing with no other coordination. */
  def append(delta: DataFrame, path: String): Unit =
    appendWith(delta, load(path), path)

  private def appendWith(delta: DataFrame, model: IvfPq.Model, path: String): Unit = {
    IvfPq.encode(delta, model)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    writeCountFile(s"$path/_append_log/a${System.nanoTime()}", delta.count())
  }

  /** Index maintenance under CONTINUOUS ingest: drain a stream of
    * (vec_id, embedding) rows into the saved index, one microbatch at a
    * time. The model sidecars are loaded ONCE outside the stream (the
    * IVF contract — centroids/codebooks are immutable until a rebuild),
    * so each batch is a pure map-side encode plus one appended file per
    * touched cell directory; concurrent searches pick up new rows at
    * their next file listing with no other coordination. Ingest is
    * EXACTLY-ONCE in index contents: foreachBatch is at-least-once, so
    * each batch writes idempotently via [[appendBatch]] — batchId-named
    * files, a committed-batch marker log, and retry-time cleanup of any
    * partial prior attempt — and a batch replayed after a restart (or
    * re-delivered by the source) changes nothing. Batching-invariant by
    * construction: encoding is per-row against a fixed model, so any
    * carve-up of arrivals yields the same index as one [[append]] of the
    * union — spec-pinned against the batch path.
    *
    * Every `compactEvery` batches the ingest calls [[compact]], bounding
    * the per-cell file count that blind appends would otherwise grow
    * monotonically (one file per touched cell per batch, forever).
    * Drains with AvailableNow (continuous deployments drop the trigger). */
  def appendOnIngest(
      streamEmb: DataFrame, path: String, compactEvery: Int = 10,
      maxFilesPerCell: Int = 8): Unit = {
    val model = load(path)
    graft.streaming.LocalFs.ensure(streamEmb.sparkSession)
    val q = streamEmb.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$path/_ingest_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        appendBatch(batch.toDF(), model, path, bid)
        if (compactEvery > 0 && bid % compactEvery == compactEvery - 1) {
          compact(path, maxFilesPerCell); ()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def hadoopFs(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Idempotent per-batch append — exactly-once index contents under
    * at-least-once batch delivery. Protocol, in order:
    *  1. committed marker `_ingest_log/batch-<id>` present -> no-op;
    *  2. delete any `b<id>-*` files a partial prior attempt of THIS batch
    *     left in the cell directories;
    *  3. encode to `_staging/batch-<id>` (mode overwrite — itself
    *     idempotent), move each staged file to
    *     `codes/cell=<c>/b<id>-<file>` (per-file rename: atomic on HDFS
    *     and local filesystems; object stores want a manifest commit
    *     instead — out of scope here);
    *  4. write the marker, drop staging.
    * A crash anywhere before (4) leaves either nothing or `b<id>-*`
    * orphans that step (2) removes on retry; after (4) the batch is a
    * no-op forever. Underscore-prefixed sidecars (`_staging`,
    * `_ingest_log`) are invisible to Spark's file listing. */
  private[graft] def appendBatch(
      delta: DataFrame, model: IvfPq.Model, path: String, batchId: Long): Unit = {
    val (fs, marker) = hadoopFs(s"$path/_ingest_log/batch-$batchId")
    if (fs.exists(marker)) return
    val codesDir = new org.apache.hadoop.fs.Path(s"$path/codes")
    if (fs.exists(codesDir)) {
      fs.listStatus(codesDir).filter(_.getPath.getName.startsWith("cell="))
        .foreach { cell =>
          fs.listStatus(cell.getPath)
            .filter(_.getPath.getName.startsWith(s"b$batchId-"))
            .foreach(f => fs.delete(f.getPath, false))
        }
    }
    val staging = s"$path/_staging/batch-$batchId"
    IvfPq.encode(delta, model)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staging)
    val (_, stagingPath) = hadoopFs(staging)
    fs.listStatus(stagingPath).filter(_.getPath.getName.startsWith("cell="))
      .foreach { cell =>
        val dest = new org.apache.hadoop.fs.Path(codesDir, cell.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(cell.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(dest, s"b$batchId-${f.getPath.getName}"))
          }
      }
    // batchId-keyed staleness log BEFORE the marker: a crash between the
    // two re-runs this branch and overwrites the same file — idempotent
    writeCountFile(s"$path/_append_log/batch-$batchId", delta.count())
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    fs.delete(stagingPath, true)
  }

  private def writeCountFile(p: String, n: Long): Unit = {
    val (fs, hp) = hadoopFs(p)
    fs.mkdirs(hp.getParent)
    val out = fs.create(hp, true)
    out.write(n.toString.getBytes("UTF-8"))
    out.close()
  }

  /** Fraction of the index's rows appended AFTER the codebooks were
    * trained: appended / (base + appended), from the build's base count
    * and the per-append sidecar log (compaction rewrites files but not
    * the log, so the accounting survives it). The IVF contract freezes
    * centroids/codebooks at build time, so quantization error — and with
    * it search recall — drifts as appended data outgrows the training
    * distribution; this is the number a deployment alarms on. */
  def staleness(path: String): Double = {
    val (fs, baseP) = hadoopFs(s"$path/_base_count")
    def readCount(p: org.apache.hadoop.fs.Path): Long = {
      val in = fs.open(p)
      val s = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      in.close(); s.trim.toLong
    }
    val base = if (fs.exists(baseP)) readCount(baseP) else 0L
    val (_, logDir) = hadoopFs(s"$path/_append_log")
    val appended =
      if (!fs.exists(logDir)) 0L
      else fs.listStatus(logDir).map(f => readCount(f.getPath)).sum
    if (base + appended == 0L) 0.0
    else appended.toDouble / (base + appended)
  }

  /** Staleness policy: true once appends exceed `maxStaleFraction` of
    * the index — the signal to retrain the codebooks and [[build]] fresh
    * (a rebuild, per the IVF contract; there is no incremental retrain).
    * The recall drift that motivates the policy is spec-pinned with the
    * recall-gate machinery: an index serving a corpus its codebooks
    * never saw measures strictly worse recall@k than one rebuilt on the
    * full corpus (IvfIndexSpec). */
  def needsRetrain(path: String, maxStaleFraction: Double = 0.5): Boolean =
    staleness(path) >= maxStaleFraction

  /** Rewrite every cell directory whose parquet-file count exceeds
    * `maxFilesPerCell` down to one file per owning task (the same
    * repartition-on-cell layout as [[build]]) — the maintenance pass that
    * keeps continuous ingest from degrading every subsequent search's
    * file listing. Returns the number of cells compacted. Rows are read
    * back with the index as basePath so the `cell` partition column
    * survives the round trip; the swap (delete old files, move staged
    * ones in) is NOT atomic for concurrent readers — run it from the
    * ingest loop (as [[appendOnIngest]] does) or a maintenance window,
    * the same contract as any parquet rewrite without a transaction log. */
  def compact(path: String, maxFilesPerCell: Int = 8): Int = {
    val (fs, codesDir) = hadoopFs(s"$path/codes")
    if (!fs.exists(codesDir)) return 0
    def parquets(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    val oversized = fs.listStatus(codesDir)
      .filter(_.getPath.getName.startsWith("cell="))
      .filter(c => parquets(c.getPath).length > maxFilesPerCell)
    if (oversized.isEmpty) return 0
    val tmp = s"$path/_compact_tmp"
    spark.read.option("basePath", s"$path/codes")
      .parquet(oversized.map(_.getPath.toString).toIndexedSeq: _*)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    val (_, tmpPath) = hadoopFs(tmp)
    oversized.foreach { cell =>
      val staged = new org.apache.hadoop.fs.Path(tmpPath, cell.getPath.getName)
      parquets(cell.getPath).foreach(f => fs.delete(f.getPath, false))
      parquets(staged).foreach { f =>
        fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(cell.getPath, f.getPath.getName))
      }
    }
    fs.delete(tmpPath, true)
    oversized.length
  }

  /** Rehydrate the quantizer model from the sidecars. */
  def load(path: String): IvfPq.Model = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).toArray)
    val p = spark.read.parquet(s"$path/pq").collect().head
    val pq = ProductQuantize.PQ(
      m = p.getInt(0), k = p.getInt(1), dsub = p.getInt(2),
      flat = p.getSeq[Double](4).toArray, normSq = p.getSeq[Double](5).toArray)
    IvfPq.Model(cents, cents.flatten, pq)
  }

  /** Top-k cosine neighbors of `probes` (vec_id, embedding rows) against
    * the saved index: probed cells -> partition-pruned code scan -> ADC ->
    * exact re-rank against `emb` (original vectors, survivors only).
    * Results are identical to [[IvfPq.search]] with the same model. */
  def search(
      emb: DataFrame, path: String, probeFilter: Column,
      nprobe: Int, k: Int, rerank: Int): DataFrame = {
    val model = load(path)
    val pq = model.pq
    val cb = typedlit(pq.flat.toSeq)
    val V = graft.functions.VectorExpressions
    val dim = model.centroids.head.length
    val p = Similarity.prepared(emb)
    val probes = Lineage.cut(p.where(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        V.ivfCells(spark, col("v"), typedlit(model.flat.toSeq),
          model.centroids.length, math.min(nprobe, model.centroids.length)).as("cells"))
      .select(col("qid"), col("qv"), col("qnrm"), explode(col("cells")).as("cell")))
    // bounded driver collect (|probes| x nprobe ints) -> IN-list predicate
    // the parquet source prunes whole cell directories with
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val codes = spark.read.parquet(s"$path/codes")
      .where(col("cell").isin(probedCells.toIndexedSeq: _*))
    val cellVec = slice(typedlit(model.flat.toSeq), col("cell") * dim + 1, lit(dim))
    val approx = codes.join(probes, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("qv"), col("qnrm"),
        ((Similarity.dot(col("qv"), cellVec)
          + V.pqDot(spark, col("qv"), col("codes"), cb, pq.k, pq.dsub))
          / (col("qnrm") * col("dqnrm"))).as("acos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("acos").desc, col("cid"))))
      .where(col("rn") <= rerank)
    approx
      .join(p.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm")), "cid")
      .select(col("qid"), col("cid"),
        (Similarity.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("sim"))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted SRP-LSH (sign-random-projection) embedding near-dup index —
  * the build-once/probe-many disk layout that gives SEMANTIC dedup an
  * on-ingest form, completing the dedup matrix next to [[DedupIndex]]
  * (MinHash shingle sets), [[PipelineOps.buildContainmentIndex]] and
  * [[IvfIndex]]. Before this existed, a recurring-crawl pipeline hunting
  * paraphrase duplicates (shared embedding direction, no shared n-grams)
  * had to re-project and re-band the ENTIRE corpus per arriving batch —
  * O(corpus) work per ingest, exactly the failure [[DedupIndex]] fixed
  * for lexical near-dup.
  *
  * On-disk layout under `path` (all parquet):
  *  - `bands`: (doc_id, bkey) where bkey packs (band, band value) into
  *    one long (band in the high 32 bits, the packed sign-band int —
  *    zero-extended, it can be negative as an int — in the low 32).
  *    Partitioned by `bp` = bkey mod 16 and SORTED by bkey within files,
  *    so a batch probe's collected key list prunes partitions AND row
  *    groups: probe cost tracks the batch, not the corpus.
  *  - `sigs`: per-doc (doc_id, sig: packed h-bit signature as longs,
  *    v: array<double>, nrm) partitioned by `dp` = doc_id mod 16, sorted
  *    by doc_id. The hamming prefilter reads ONLY (doc_id, sig) —
  *    parquet column pruning keeps the 128-double vectors on disk until
  *    the few hamming survivors need exact cosine.
  *  - `meta.json`: (dim, bits, bands, seed) so probes always project
  *    against the index's own hyperplane family and band shape
  *    ([[Similarity.srpHyperplanes]] is prefix-stable and seeded, so the
  *    batch side reproduces the corpus banding exactly).
  *
  * Per-batch work is O(batch + candidates): project the batch (one map
  * pass, all kernels codegen'd), prune-read matching corpus band rows,
  * hamming-gate candidates on prune-read signatures, exact-cosine verify
  * the survivors. Results are identical to re-running
  * [[Similarity.srpNearDup]]-style banding over corpus ∪ batch restricted
  * to batch×corpus pairs (spec-pinned), and each batch is scored against
  * the same static index regardless of which microbatch carries a doc —
  * batching-invariant by construction, which is what lets the
  * q_stream_semdedup oracle replay the whole stream as one batch. */
object SrpIndex {

  /** Handle to a built index: path + the projection parameters it was
    * built with (frames are read lazily, partition-pruned, at search
    * time). */
  final case class Loaded(
      path: String, dim: Int, bits: Int, bands: Int, seed: Long)

  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** One projection pass over (doc_id, v): zero-norm rows dropped (no
    * cosine direction — same rule and same ORDER as
    * [[Similarity.srpNearDup]]: the filter precedes any count that sizes
    * the signature), band values and the packed signature computed
    * together inside the scan's codegen span. */
  private def signatures(
      vecs: DataFrame, dim: Int, bits: Int, bands: Int, seed: Long): DataFrame = {
    val spark = vecs.sparkSession
    val h = bits * bands
    val flat = Similarity.srpHyperplanes(h, dim, seed)
    val proj = graft.functions.VectorExpressions.matVecConst(
      spark, flat, col("v"), h)
    Dedup.spread(vecs)
      .withColumn("nrm",
        graft.functions.PlanBarrier(spark, sqrt(Similarity.dot(col("v"), col("v")))))
      .where(col("nrm") > 0)
      .withColumn("__proj", proj)
      .select(
        col("doc_id"),
        graft.functions.VectorExpressions.signBands(
          spark, col("__proj"), bits, bands).as("bb"),
        graft.functions.VectorExpressions.packSigns(
          spark, col("__proj")).as("sig"),
        col("v"), col("nrm"))
  }

  /** (band, bval int) → one long key: band high, bval ZERO-extended low
    * (a packed sign band is a bit pattern, not a signed quantity). */
  private def bkeyOf(band: Column, bval: Column): Column =
    shiftleft(band.cast("long"), 32)
      .bitwiseOR(bval.cast("long").bitwiseAND(lit(0xffffffffL)))

  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("bb")).as(Seq("band", "bval")))
      .select(col("doc_id"), bkeyOf(col("band"), col("bval")).as("bkey"))

  /** Packed (doc_id, bkey) band rows as the (doc_id, band, key) rows
    * [[CandidatePairs]] buckets on: band = the high 32 bits, key = the
    * zero-extended band value — the same buckets as bkey itself. */
  private def bucketRows(bands: DataFrame): DataFrame =
    bands.select(col("doc_id"), shiftright(col("bkey"), 32).as("band"),
      col("bkey").bitwiseAND(lit(0xffffffffL)).as("key"))

  /** Project and band `vecs` (doc_id, v: array<double>) ONCE; write the
    * band rows and verification signatures partitioned for pruned probe
    * reads. `bits`/`bands` auto-size from the corpus count with
    * [[Similarity.srpAutoBits]]/[[Similarity.srpAutoBands]] when left 0 —
    * the probe side always reuses the STORED parameters, so batch and
    * corpus band identically regardless of batch size. The two subtree
    * writes run as concurrent jobs ([[DedupIndex.build]]'s tail-hiding
    * pattern): each spends much of its wall-clock in a low-parallelism
    * 16-partition write tail. */
  def build(
      vecs: DataFrame, path: String, dim: Int,
      bits: Int = 0, bands: Int = 0, seed: Long = 42L): Loaded = {
    val spark = vecs.sparkSession
    val prepped = Dedup.spread(vecs)
      .withColumn("nrm",
        graft.functions.PlanBarrier(spark, sqrt(Similarity.dot(col("v"), col("v")))))
      .where(col("nrm") > 0)
      .persist(Lvl)
    try {
      val nBits = if (bits > 0) bits else Similarity.srpAutoBits(prepped.count())
      val nBands = if (bands > 0) bands else Similarity.srpAutoBands(nBits)
      val h = nBits * nBands
      val flat = Similarity.srpHyperplanes(h, dim, seed)
      val proj = graft.functions.VectorExpressions.matVecConst(
        spark, flat, col("v"), h)
      val sigs = prepped
        .withColumn("__proj", proj)
        .select(
          col("doc_id"),
          graft.functions.VectorExpressions.signBands(
            spark, col("__proj"), nBits, nBands).as("bb"),
          graft.functions.VectorExpressions.packSigns(
            spark, col("__proj")).as("sig"),
          col("v"), col("nrm"))
        .persist(Lvl)
      sigs.count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val bandsW = Future {
        bandRows(sigs)
          .withColumn("bp", pmod(col("bkey"), lit(16)).cast("int"))
          .repartition(col("bp")).sortWithinPartitions("bkey")
          .write.mode("overwrite").partitionBy("bp").parquet(s"$path/bands")
      }
      val sigsW = Future {
        sigs.select("doc_id", "sig", "v", "nrm")
          .withColumn("dp", pmod(col("doc_id"), lit(16)).cast("int"))
          .repartition(col("dp")).sortWithinPartitions("doc_id")
          .write.mode("overwrite").partitionBy("dp").parquet(s"$path/sigs")
      }
      // await BOTH before surfacing either failure (no zombie overwrite
      // racing a retry — the DedupIndex.build rule)
      val bandsR = scala.util.Try(Await.result(bandsW, Duration.Inf))
      val sigsR = scala.util.Try(Await.result(sigsW, Duration.Inf))
      sigs.unpersist()
      bandsR.get
      sigsR.get
      val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      try out.write(
        (s"""{"dim":$dim,"bits":$nBits,"bands":$nBands,""" +
          s""""seed":$seed}""").getBytes("UTF-8"))
      finally out.close()
      Loaded(path, dim, nBits, nBands, seed)
    } finally { prepped.unpersist(); () }
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    def field(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(
          s"malformed index meta at $p: $txt")).group(1).toLong
    Loaded(path, field("dim").toInt, field("bits").toInt,
      field("bands").toInt, field("seed"))
  }

  /** Embedding near-duplicates of `batch` (doc_id, v) against the
    * persisted corpus index — output (doc_id [batch], dup_of [corpus],
    * sim), the exact-cosine-verified pairs at `sim >= threshold`. Doc
    * ids must be distinct across batch and corpus.
    *
    * Probe shape mirrors [[DedupIndex.searchAgainst]]: the batch's
    * distinct band keys (then the candidate corpus doc ids) are bounded
    * driver collects that become partition-pruning `IN` predicates on
    * the index reads; past `maxInList` keys the probe falls back to one
    * full index scan joined against the batch (the giant-backfill
    * regime), and the key distinct is SKIPPED outright when the batch's
    * band-row count (known exactly: docs × bands) already rules the
    * IN-list out. Candidates and the volume guard come from
    * [[CandidatePairs.against]] (which also guards the streaming form,
    * probing exclusively through here); the sigs-pruning id list reads
    * off its matched index rows, so the pair join, its distinct, the
    * hamming prefilter and the exact-cosine verify all fuse into one
    * terminal action. Signature and vector columns are read for
    * candidates only, in that order — vectors ship solely for hamming
    * survivors. */
  def searchAgainst(
      index: Loaded, batch: DataFrame, threshold: Double,
      maxInList: Int = 2048): DataFrame = {
    val spark = batch.sparkSession
    val sc = spark.sparkContext
    def phase[T](name: String)(body: => T): T = {
      sc.setJobDescription(s"srpSearchAgainst:$name")
      try body finally sc.setJobDescription(null)
    }
    val h = index.bits * index.bands
    val bSigs = signatures(
      batch, index.dim, index.bits, index.bands, index.seed).persist(Lvl)
    val bBands = bandRows(bSigs).persist(Lvl)
    try {
      // every batch doc emits exactly `bands` band rows, so the batch's
      // band-row count bounds what the probe-key distinct can return:
      // past 32x the IN-list budget only a >=32x mass-duplicated batch
      // could still fit, so skip the distinct job outright (such a batch
      // loses partition pruning — nothing else; the volume guard still
      // governs it) instead of paying a shuffle just to learn "too many
      // keys"
      val nBandRows = phase("batchCount")(bSigs.count()) * index.bands
      val tooManyKeys = nBandRows > 32L * (maxInList + 1)
      val probeKeys =
        if (tooManyKeys) Array.empty[Long]
        else phase("probeKeys")(bBands.select("bkey").distinct()
          .limit(maxInList + 1).collect().map(_.getLong(0)))
      val corpusBands0 = spark.read.parquet(s"${index.path}/bands")
      val corpusBands =
        if (!tooManyKeys && probeKeys.length <= maxInList) {
          val bps = probeKeys.map(k => ((k % 16) + 16) % 16).distinct.toIndexedSeq
          corpusBands0.where(col("bp").isin(bps: _*) &&
            col("bkey").isin(probeKeys.toIndexedSeq: _*))
        } else corpusBands0
      CandidatePairs.against("srpSearchAgainst",
          bucketRows(bBands), bucketRows(corpusBands)) { c =>
        // the sigs-pruning id list reads off the module's cached matched
        // rows, so the pair join, its distinct, the hamming gate and the
        // cosine verify all fuse lazily into the one terminal action
        // below instead of being materialized mid-probe
        val candIds = phase("candIds")(c.indexDocs.distinct()
          .limit(maxInList + 1).collect().map(_.getLong(0)))
        def prunedSigs(cols: Column*): DataFrame = {
          val base = spark.read.parquet(s"${index.path}/sigs")
          val pruned =
            if (candIds.length <= maxInList) {
              val dps = candIds.map(id => ((id % 16) + 16) % 16).distinct.toIndexedSeq
              base.where(col("dp").isin(dps: _*) &&
                col("doc_id").isin(candIds.toIndexedSeq: _*))
            } else base
          pruned.select(cols: _*)
        }
        val hamMax = Similarity.srpHamMax(h, threshold)
        val survivors = c.pairs
          .join(bSigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")),
            "doc_a")
          .join(prunedSigs(col("doc_id").as("doc_b"), col("sig").as("sb")),
            "doc_b")
          .where(graft.functions.VectorExpressions.hamming(
            spark, col("sa"), col("sb")) <= hamMax)
          .select("doc_a", "doc_b")
        val out = survivors
          .join(bSigs.select(col("doc_id").as("doc_a"), col("v").as("va"),
            col("nrm").as("na")), "doc_a")
          .join(prunedSigs(col("doc_id").as("doc_b"), col("v").as("vb"),
            col("nrm").as("nb")), "doc_b")
          .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
            (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
              .as("cos"))
          .where(col("cos") >= threshold)
          .select(col("doc_id"), col("dup_of"), round(col("cos"), 6).as("sim"))
        Lineage.cut(out)
      }
    } finally { bSigs.unpersist(); bBands.unpersist(); () }
  }

  /** Semantic-dedup-on-ingest: score every arriving microbatch of
    * (doc_id, v) against the persisted index — the streaming analog of
    * [[DedupIndex.nearDupOnIngest]] for EMBEDDING near-dups. Per-batch
    * cost is one [[searchAgainst]] probe; batching-invariant by
    * construction (static index). Drains with AvailableNow and returns
    * the appended result. */
  def semanticDedupOnIngest(
      streamVecs: DataFrame, index: Loaded, threshold: Double): DataFrame =
    graft.streaming.StreamingOps.runBatchesToParquet(
      streamVecs, "stream_semdedup",
      batch => searchAgainst(index, batch, threshold))

  /** Append a new batch of (doc_id, v) INTO the index (they become
    * corpus members for subsequent probes): project with the STORED
    * parameters and append into the same partition layout — one file
    * per touched partition per call, no rebuild, searches see the new
    * rows at their next file listing ([[DedupIndex.append]]'s
    * contract). Callers typically [[searchAgainst]] the batch first,
    * then append the survivors. */
  def append(delta: DataFrame, index: Loaded): Unit = {
    val sigs = signatures(
      delta, index.dim, index.bits, index.bands, index.seed).persist(Lvl)
    try {
      bandRows(sigs)
        .withColumn("bp", pmod(col("bkey"), lit(16)).cast("int"))
        .repartition(col("bp")).sortWithinPartitions("bkey")
        .write.mode("append").partitionBy("bp").parquet(s"${index.path}/bands")
      sigs.select("doc_id", "sig", "v", "nrm")
        .withColumn("dp", pmod(col("doc_id"), lit(16)).cast("int"))
        .repartition(col("dp")).sortWithinPartitions("doc_id")
        .write.mode("append").partitionBy("dp").parquet(s"${index.path}/sigs")
    } finally { sigs.unpersist(); () }
  }

  /** Rewrite every partition directory (bands AND sigs) whose parquet
    * file count exceeds `maxFilesPerPartition` down to one sorted file
    * per owning task — the maintenance pass for long-running [[append]]
    * ingest, same machinery as [[DedupIndex.compact]]
    * ([[DedupIndex.compactTree]], one definition). Restores the
    * build-time sort so row-group min/max stats stay tight. */
  def compact(path: String, maxFilesPerPartition: Int = 8): Int =
    DedupIndex.compactTree(s"$path/bands", "bp", "bkey",
      maxFilesPerPartition) +
      DedupIndex.compactTree(s"$path/sigs", "dp", "doc_id",
        maxFilesPerPartition)

  /** The full semantic crawl-dedup loop — [[DedupIndex.dedupAndIngest]]
    * re-expressed for embeddings: per arriving microbatch, (1) probe
    * the index for embedding near-dups of the batch, (2) APPEND the
    * batch's non-duplicate vectors so they become corpus members for
    * every subsequent batch (cross-batch paraphrase dups caught), (3)
    * compact once file counts pass `maxFilesPerPartition`. Intra-batch
    * dups — invisible to the pre-batch index — resolve by a batch-local
    * [[Similarity.srpNearDup]] pass AT THE INDEX'S OWN (bits, bands)
    * (same hash universe and hamming gate as the probe, so intra- and
    * cross-batch pairs face one selectivity), keeping the smaller id.
    * Emits the flagged (doc_id, dup_of, sim) rows; result depends on
    * arrival order by construction (first copy seen wins). */
  def dedupAndIngest(
      streamVecs: DataFrame, index: Loaded, threshold: Double,
      maxFilesPerPartition: Int = 8): DataFrame =
    graft.streaming.StreamingOps.runBatchesToParquet(
      streamVecs, "stream_semdedup_ingest",
      batch => {
        val vsCorpus = searchAgainst(index, batch, threshold)
        val intra = Similarity.srpNearDup(batch, threshold, index.dim,
            bits = index.bits, bands = index.bands, seed = index.seed)
          .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
            col("sim"))
        val dups = Lineage.cut(vsCorpus.unionByName(intra)
          .groupBy("doc_id")
          .agg(min(struct(col("dup_of"), col("sim"))).as("m"))
          .select(col("doc_id"), col("m.dup_of").as("dup_of"),
            col("m.sim").as("sim")))
        val fresh = batch.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
        append(fresh, index)
        compact(index.path, maxFilesPerPartition)
        dups
      })
}

package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH near-dup index — the build-once/probe-many disk
  * layout for RECURRING-INGEST deduplication, mirroring
  * [[PipelineOps.buildContainmentIndex]] (in-memory probe index) and
  * [[IvfIndex]] (cell-partitioned ANN codes). Before this existed,
  * [[Dedup.minhashNearDupAgainst]] re-shingled and re-banded the ENTIRE
  * corpus on every call — O(corpus) work per ingest batch, defeating the
  * operator's incremental purpose.
  *
  * On-disk layout under `path` (all parquet):
  *  - `bands`: (doc_id, band, bkey) partitioned by `bp` = the first hex
  *    char of bkey (16 directories), rows SORTED by bkey within each
  *    file so every row group carries tight bkey min/max stats. A batch
  *    probe collects its own band keys (bounded: |batch| x bands
  *    strings — the same bounded-collect pattern as [[IvfIndex.search]]'s
  *    probed cells) and reads only matching partitions/row groups via
  *    partition pruning + a pushed `bkey IN (...)` filter: probe cost
  *    tracks the batch, not the corpus. Row-group pruning off the sort
  *    order is what scales — a small probe touches a handful of row
  *    groups regardless of corpus size, without the file-count explosion
  *    a finer directory scheme would pay on every listing.
  *  - `sets`: per-doc (doc_id, seth: sorted xxhash64 shingle hashes,
  *    n_sh) partitioned by `dp` = doc_id mod 16 and sorted by doc_id
  *    within files, read partition- and row-group-pruned for the few
  *    candidate docs only. The sorted-long arrays make exact Jaccard
  *    verification a zero-allocation two-pointer merge
  *    ([[graft.functions.SortedIntersect]]) — identical construction to
  *    the containment index's `seth` (collision odds ~1e-15/pair; the
  *    oracle's exact string recount would catch any).
  *  - `meta`: one row (bands, rows_per_band, n) so probes always band
  *    with the index's own parameters.
  *
  * Per-batch work is therefore O(batch + candidates): band the batch
  * (one aggregation), prune-read matching corpus band rows, verify exact
  * Jaccard on candidates against prune-read corpus sets. The hash family
  * is the same deterministic md5 construction as [[Dedup.minhashNearDup]],
  * so results are identical to the recompute-everything path (spec-pinned)
  * and the q_dedup_against DuckDB oracle replays them exactly. */
object DedupIndex {

  /** Handle to a built index: path + the banding parameters it was built
    * with (frames are read lazily, partition-pruned, at search time). */
  final case class Loaded(path: String, bands: Int, rowsPerBand: Int, n: Int)

  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Per-doc sorted xxhash64 shingle-hash sets + set sizes from a
    * (distinct) shingle frame — ONE doc_id aggregation, shared by the
    * build and the batch-probe side so both hash identically. */
  private[ext] def hashedSets(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(
      expr("sort_array(collect_list(xxhash64(shingle)))").as("seth"),
      count(lit(1)).as("n_sh"))

  /** Shingle, minhash, and band the corpus ONCE; write the band rows and
    * verification sets partitioned for pruned probe reads. Each partition
    * directory gets one file per owning task (repartition on the
    * partition key before the partitioned write — same sliver-file
    * avoidance as [[IvfIndex.build]]). */
  def build(
      corpus: DataFrame, path: String, bands: Int = 3, rowsPerBand: Int = 3,
      n: Int = 3): Unit = {
    val spark = corpus.sparkSession
    val sh = Dedup.docShingles(corpus, n).persist(Lvl)
    // materialize the shared shingle cache once, then run the two
    // independent writes as CONCURRENT jobs: each spends much of its
    // wall-clock in low-parallelism tail stages (16-partition shuffle
    // write + task commit), so overlapping them hides one write's tail
    // behind the other's compute on an otherwise-idle scheduler
    sh.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val bandsW = Future {
      Dedup.minhashBandRows(sh, bands, rowsPerBand)
        .withColumn("bp", substring(col("bkey"), 1, 1))
        .repartition(col("bp")).sortWithinPartitions("bkey")
        .write.mode("overwrite").partitionBy("bp").parquet(s"$path/bands")
    }
    val setsW = Future {
      hashedSets(sh)
        .withColumn("dp", pmod(col("doc_id"), lit(16)).cast("int"))
        .repartition(col("dp")).sortWithinPartitions("doc_id")
        .write.mode("overwrite").partitionBy("dp").parquet(s"$path/sets")
    }
    // await BOTH before surfacing either failure: bailing on the first
    // error would leave the other write running unawaited (a zombie
    // overwrite racing any retry of build()) and leak the persisted
    // shingle frame
    val bandsR = scala.util.Try(Await.result(bandsW, Duration.Inf))
    val setsR = scala.util.Try(Await.result(setsW, Duration.Inf))
    sh.unpersist()
    bandsR.get
    setsR.get
    writeMeta(spark, path, bands, rowsPerBand, n)
  }

  /** The three-int meta sidecar is written/read as one tiny JSON file
    * through the Hadoop FS API directly — a Spark job for one row costs
    * ~0.15 s of scheduling per build and another ~0.13 per load, pure
    * overhead on the q_dedup_against / q_stream_dedup_against in-query
    * rebuilds. (Indexes written by earlier builds carry a one-row
    * parquet `meta/` instead; [[load]] falls back to it.) */
  private def writeMeta(
      spark: SparkSession, path: String,
      bands: Int, rowsPerBand: Int, n: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"bands":$bands,"rows_per_band":$rowsPerBand,"n":$n}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  def load(spark: SparkSession, path: String): Loaded = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
      def field(k: String): Int =
        s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
          .getOrElse(throw new IllegalStateException(
            s"malformed index meta at $p: $txt")).group(1).toInt
      Loaded(path, field("bands"), field("rows_per_band"), field("n"))
    } else {
      // legacy layout: one-row parquet meta/ directory
      val m = spark.read.parquet(s"$path/meta").collect().head
      Loaded(path, m.getInt(0), m.getInt(1), m.getInt(2))
    }
  }

  /** Append a new batch of documents INTO the index (they become corpus
    * members for subsequent probes): band + set the delta with the saved
    * parameters and append into the same partition layout — one file per
    * touched partition per call, no rebuild, searches see the new rows at
    * their next file listing. Callers typically [[searchAgainst]] the
    * batch first, then append the survivors. */
  def append(delta: DataFrame, index: Loaded): Unit = {
    val sh = Dedup.docShingles(delta, index.n).persist(Lvl)
    Dedup.minhashBandRows(sh, index.bands, index.rowsPerBand)
      .withColumn("bp", substring(col("bkey"), 1, 1))
      .repartition(col("bp")).sortWithinPartitions("bkey")
      .write.mode("append").partitionBy("bp").parquet(s"${index.path}/bands")
    hashedSets(sh)
      .withColumn("dp", pmod(col("doc_id"), lit(16)).cast("int"))
      .repartition(col("dp")).sortWithinPartitions("doc_id")
      .write.mode("append").partitionBy("dp").parquet(s"${index.path}/sets")
    sh.unpersist()
  }

  /** Rewrite every partition directory (in BOTH the `bands` and `sets`
    * subtrees) whose parquet-file count exceeds `maxFilesPerPartition`
    * down to one sorted file per owning task — the maintenance pass for
    * long-running [[append]] ingest, same contract as
    * [[IvfIndex.compact]]: each append adds one file per touched
    * partition forever, and an unbounded file count degrades every
    * probe's listing plus the row-group pruning that sorted files
    * provide. Restores the build-time sort (bands by bkey, sets by
    * doc_id) so min/max stats stay tight after compaction. Returns the
    * number of partitions compacted; the file swap is not atomic for
    * concurrent readers (maintenance-window op, like any parquet rewrite
    * without a transaction log). */
  def compact(path: String, maxFilesPerPartition: Int = 8): Int =
    compactTree(s"$path/bands", "bp", "bkey", maxFilesPerPartition) +
      compactTree(s"$path/sets", "dp", "doc_id", maxFilesPerPartition)

  /** Shared with [[SrpIndex.compact]] — ONE definition of the
    * oversized-partition rewrite for every partitioned index layout. */
  private[ext] def compactTree(
      root: String, partCol: String, sortCol: String, maxFiles: Int): Int = {
    val spark = SparkSession.active
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return 0
    def parquets(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    val oversized = fs.listStatus(rootP)
      .filter(_.getPath.getName.startsWith(s"$partCol="))
      .filter(d => parquets(d.getPath).length > maxFiles)
    if (oversized.isEmpty) return 0
    val tmp = new org.apache.hadoop.fs.Path(s"$root/../_compact_tmp_$partCol")
    spark.read.option("basePath", root)
      .parquet(oversized.map(_.getPath.toString).toIndexedSeq: _*)
      .repartition(col(partCol)).sortWithinPartitions(sortCol)
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp.toString)
    oversized.foreach { d =>
      val staged = new org.apache.hadoop.fs.Path(tmp, d.getPath.getName)
      parquets(d.getPath).foreach(f => fs.delete(f.getPath, false))
      parquets(staged).foreach { f =>
        fs.rename(f.getPath,
          new org.apache.hadoop.fs.Path(d.getPath, f.getPath.getName))
      }
    }
    fs.delete(tmp, true)
    oversized.length
  }

  /** Near-duplicates of `batch` against the persisted corpus index —
    * output (doc_id [batch], dup_of [corpus], jaccard), identical rows to
    * [[Dedup.minhashNearDupAgainst]] over the corpus the index was built
    * from. Doc ids must be distinct across batch and corpus.
    *
    * Probe shape: the batch's distinct band keys (and later the candidate
    * corpus doc ids) are bounded driver collects that become partition-
    * pruning `IN` predicates on the index reads — O(batch + candidates)
    * scan cost. A batch larger than `maxInList` keys falls back to a full
    * index scan JOINED against the batch keys (one scan, still ZERO
    * corpus recompute — the giant-backfill regime where scanning the
    * index once is the right plan anyway). `maxInList` is deliberately
    * small: a multi-thousand-value IN predicate stops reaching the
    * parquet reader as a pushable filter and just burns planner/eval
    * time, while the scan+join path broadcasts the batch side and reads
    * the index once — the crossover measured around a few thousand keys.
    * Candidates and the volume guard (Σ |batch bucket| × |corpus bucket|)
    * come from [[CandidatePairs.against]]; the candidate corpus ids are
    * read off its matched index rows. */
  def searchAgainst(
      index: Loaded, batch: DataFrame, threshold: Double,
      maxInList: Int = 2048): DataFrame = {
    val spark = batch.sparkSession
    val bSh = Dedup.docShingles(batch, index.n).persist(Lvl)
    val bBands = Dedup.minhashBandRows(bSh, index.bands, index.rowsPerBand)
      .persist(Lvl)
    val bSets = hashedSets(bSh).persist(Lvl)
    try {
      val probeKeys = bBands.select("bkey").distinct()
        .limit(maxInList + 1).collect().map(_.getString(0))
      val corpusBands0 = spark.read.parquet(s"${index.path}/bands")
      val corpusBands =
        if (probeKeys.length <= maxInList) {
          val prefixes = probeKeys.map(_.substring(0, 1)).distinct.toIndexedSeq
          corpusBands0.where(col("bp").isin(prefixes: _*) &&
            col("bkey").isin(probeKeys.toIndexedSeq: _*))
        } else corpusBands0
      CandidatePairs.against("dedupIndexSearchAgainst",
          bBands.withColumnRenamed("bkey", "key"),
          corpusBands.select(col("doc_id"), col("band"), col("bkey").as("key"))) { c =>
        val candIds = c.indexDocs.distinct()
          .limit(maxInList + 1).collect().map(_.getLong(0))
        val corpusSets0 = spark.read.parquet(s"${index.path}/sets")
        val corpusSets =
          if (candIds.length <= maxInList) {
            val dps = candIds.map(id => ((id % 16) + 16) % 16).distinct.toIndexedSeq
            corpusSets0.where(col("dp").isin(dps: _*) &&
              col("doc_id").isin(candIds.toIndexedSeq: _*))
          } else corpusSets0
        // the intersection is projected to a BARRIER-wrapped attribute
        // FIRST: codegen has no cross-expression CSE, and the jaccard>=t
        // filter would otherwise substitute the whole division —
        // two-pointer merge included — into the join condition AND keep
        // it in the project (measured: 4 kernel evaluations per candidate
        // pair in the plan; the barrier pins it to one)
        val out = c.broadcastIf(c.pairs, CandidatePairs.PairBytes)
          .join(bSets.select(col("doc_id").as("doc_a"), col("seth").as("ha"),
            col("n_sh").as("na")), Seq("doc_a"))
          .join(corpusSets.select(col("doc_id").as("doc_b"), col("seth").as("hb"),
            col("n_sh").as("nb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
            graft.functions.PlanBarrier(spark, graft.functions.SortedIntersect(
              spark, col("ha"), col("hb")).cast("double")).as("c"))
          .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
            (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
          .where(col("jaccard") >= threshold)
        Lineage.cut(out)
      }
    } finally { bSh.unpersist(); bBands.unpersist(); bSets.unpersist(); () }
  }

  /** Near-dup-on-ingest: score every arriving microbatch against the
    * persisted index — the streaming analog of
    * [[PipelineOps.containmentOnIngest]]. Per-batch cost is one
    * [[searchAgainst]] probe pass (O(batch + candidates)); batching-
    * invariant by construction since each doc is scored against the same
    * static index regardless of which batch carries it. Drains with
    * AvailableNow and returns the appended result. */
  def nearDupOnIngest(
      streamDocs: DataFrame, index: Loaded, threshold: Double): DataFrame =
    graft.streaming.StreamingOps.runBatchesToParquet(
      streamDocs, "stream_neardup",
      batch => searchAgainst(index, batch, threshold))

  /** The full crawl-dedup loop: for each arriving microbatch, (1) probe
    * the index for near-duplicates of the batch, (2) APPEND the batch's
    * non-duplicate documents into the index so they become corpus
    * members for every subsequent batch, (3) compact once file counts
    * grow past `maxFilesPerPartition`. Unlike [[nearDupOnIngest]]'s
    * static probe, this catches CROSS-BATCH duplicates: a document
    * arriving in batch 7 that near-duplicates one from batch 3 is
    * flagged, because batch 3's survivors were folded into the index.
    * Emits the flagged (doc_id, dup_of, jaccard) rows; the index ends
    * holding the original corpus plus every first-seen document. NOTE:
    * the result depends on arrival order by construction (the first
    * copy seen wins — the semantics every incremental dedup has);
    * within one batch, documents are probed against the pre-batch index
    * only, so intra-batch duplicates are resolved by a batch-local
    * [[Dedup.minhashNearDup]] pass whose pairs keep the smaller id. */
  def dedupAndIngest(
      streamDocs: DataFrame, index: Loaded, threshold: Double,
      maxFilesPerPartition: Int = 8): DataFrame =
    graft.streaming.StreamingOps.runBatchesToParquet(
      streamDocs, "stream_dedup_ingest",
      batch => {
        val vsCorpus = searchAgainst(index, batch, threshold)
        // intra-batch near-dups (the index can't see them yet): keep the
        // smaller id as the survivor, flag the larger against it
        val intra = Dedup.minhashNearDup(batch, threshold,
            index.bands, index.rowsPerBand, index.n)
          .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
            col("jaccard"))
        val dups = Lineage.cut(vsCorpus.unionByName(intra)
          .groupBy("doc_id")
          .agg(min(struct(col("dup_of"), col("jaccard"))).as("m"))
          .select(col("doc_id"), col("m.dup_of").as("dup_of"),
            col("m.jaccard").as("jaccard")))
        val fresh = batch.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
        append(fresh, index)
        compact(index.path, maxFilesPerPartition)
        dups
      })
}

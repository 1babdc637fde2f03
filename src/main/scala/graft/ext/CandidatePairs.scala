package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Candidate pairs for the banded near-duplicate operators — the ONE
  * bucket → account → cap → emit chain that [[Dedup.minhashNearDup]],
  * [[Similarity.srpNearDup]], the `Multimodal` phash/audio-fp join,
  * [[Dedup.minhashNearDupAgainst]], [[DedupIndex.searchAgainst]] and
  * [[SrpIndex.searchAgainst]] generate their candidates through. Each
  * operator keeps its own banding and its own verify kernel; this module
  * owns everything between them:
  *
  *  - **Buckets.** Band rows are `(doc_id, band, key)`: a document lands
  *    in bucket (band, key) once per band. Two documents are candidates
  *    iff they share a bucket; every pair is returned once.
  *  - **Guard.** The pair volume is accounted from per-bucket COUNTS
  *    (fixed-size aggregation buffers) before anything pair-shaped or
  *    list-shaped exists, and [[Dedup.enforceCandidateCap]] aborts with
  *    the hottest buckets named `band/key`. A passing cap bounds every
  *    bucket to c·(c-1)/2 ≤ cap, so the emission that follows is bounded.
  *  - **Emission.** A sort-merge (spillable) self-join on (band, key) of
  *    the already co-partitioned band rows — no per-bucket list buffer.
  *  - **Broadcasts** are decided by [[Candidates.broadcastIf]] from
  *    estimated bytes against Spark's `spark.sql.autoBroadcastJoinThreshold`.
  *  - **Release.** Every frame this module persists — band rows, matched
  *    index rows, and whatever the verify step [[Candidates.hold]]s — is
  *    unpersisted in a `finally` when the verify step returns or throws.
  *    The verify step must therefore materialize its result (the
  *    operators end in [[Lineage.cut]]). */
object CandidatePairs {

  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Width of a bare (doc_a: long, doc_b: long) pair row. */
  val PairBytes = 16L

  /** The candidate pairs of one call: `pairs` is (doc_a, doc_b), each
    * pair once; `accounted` is the guard's pair volume (with one count
    * per shared bucket, so it bounds the distinct pair count from above),
    * or None when the guard is disabled and nothing was measured. */
  class Candidates private[CandidatePairs] (
      val pairs: DataFrame, val accounted: Option[Long]) {
    private[CandidatePairs] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** `df` with a broadcast hint when `accounted` pairs of `rowBytes`
      * each fit Spark's broadcast threshold; unchanged (planner-chosen)
      * otherwise, or when nothing was accounted. `rowBytes` is the width
      * of the columns the broadcast side carries: [[PairBytes]] for bare
      * pairs, plus signatures or vectors where the side carries them. */
    def broadcastIf(df: DataFrame, rowBytes: Long): DataFrame = {
      // a negative threshold switches broadcasting off
      val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      if (accounted.exists(p => limit >= 0 && p <= limit / rowBytes)) broadcast(df)
      else df
    }

    /** `df` persisted until the call that handed out these candidates
      * returns — for a frame the verify step reads more than once. */
    def hold(df: DataFrame): DataFrame = {
      val p = df.persist(Lvl)
      held += p
      p
    }
  }

  /** The probe-path candidates: `indexDocs` is the index-side doc id of
    * every index band row sharing a bucket with a probe row (with
    * repeats) — exactly the index docs that appear in some pair, read
    * off the cached matched rows without forming pairs. */
  final class ProbeCandidates private[CandidatePairs] (
      pairs: DataFrame, accounted: Option[Long], val indexDocs: DataFrame)
    extends Candidates(pairs, accounted)

  /** Self-join candidates: all (doc_a, doc_b), doc_a < doc_b, sharing a
    * bucket of `bandRows` (doc_id: long, band, key). The band rows are
    * exchanged ONCE on (band, key), sorted within partitions and cached;
    * the guard's count-only aggregate and the emitting sort-merge
    * self-join both read that cache with no further exchange or sort,
    * because it is already hash-partitioned and sorted on their keys (a
    * broadcast of all band rows, singletons included, measured slower).
    * The exchange's partition count is the cache's partitioning, which
    * AQE leaves as it is, so it is sized here the way AQE would coalesce
    * it: the planner's size estimate over the advisory partition size, at
    * most `spark.sql.shuffle.partitions` (which an unknown estimate
    * gets). `op` names the operator in the abort. */
  def self[T](op: String, bandRows: DataFrame)(verify: Candidates => T): T = {
    val conf = bandRows.sparkSession.sessionState.conf
    val partitions = (bandRows.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) + 1)
      .min(BigInt(conf.numShufflePartitions)).toInt
    val rows = bandRows.select(col("doc_id"), col("band"), col("key"))
      .repartition(partitions, col("band"), col("key"))
      .sortWithinPartitions("band", "key")
      .persist(Lvl)
    var c: Candidates = null
    try {
      val accounted = guard(op, rows.groupBy("band", "key")
        .agg(count(lit(1)).as("c"))
        .select(col("band"), col("key"),
          shiftright(col("c") * (col("c") - 1), 1).as("p")))
      val pairs = rows.select(col("band"), col("key"), col("doc_id").as("doc_a"))
        .hint("merge")
        .join(rows.select(col("band"), col("key"), col("doc_id").as("doc_b")),
          Seq("band", "key"))
        .where(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
      c = new Candidates(pairs, accounted)
      verify(c)
    } finally release(c, rows)
  }

  /** Probe candidates: all (doc_a [probe], doc_b [index]) sharing a
    * bucket, from probe and index band rows (doc_id: long, band, key).
    * Each matched index row is tagged with its bucket's PROBE count (a
    * long — linear in matched rows), the guard total is Σ over that
    * tagged frame (|probe bucket| × |index bucket| per bucket), and the
    * candidate join reuses the same cached frame as its index side: the
    * index band rows are read and exchanged once per probe. */
  def against[T](op: String, probeRows: DataFrame, indexRows: DataFrame)(
      verify: ProbeCandidates => T): T = {
    val probeCounts = probeRows.groupBy("band", "key").agg(count(lit(1)).as("bc"))
    val matched = indexRows
      .select(col("doc_id").as("doc_b"), col("band"), col("key"))
      .join(probeCounts, Seq("band", "key"))
      .persist(Lvl)
    var c: ProbeCandidates = null
    try {
      val accounted = guard(op,
        matched.groupBy("band", "key").agg(sum("bc").as("p")))
      val pairs = probeRows.select(col("doc_id").as("doc_a"), col("band"), col("key"))
        .join(matched.select(col("doc_b"), col("band"), col("key")),
          Seq("band", "key"))
        .select("doc_a", "doc_b")
        .distinct()
      c = new ProbeCandidates(pairs, accounted, matched.select(col("doc_b")))
      verify(c)
    } finally release(c, matched)
  }

  /** Refuse-before-emit: Σ p over the per-bucket volumes (band, key, p)
    * against the configured ceiling; the hottest-bucket job runs only on
    * the abort path. None when the guard is disabled. */
  private def guard(op: String, perBucket: DataFrame): Option[Long] = {
    val cap = Dedup.candidatePairCap(perBucket.sparkSession)
    if (cap <= 0) return None
    val total = perBucket.agg(coalesce(sum("p"), lit(0L))).head.getLong(0)
    Dedup.enforceCandidateCap(op, total, cap,
      perBucket.select(concat_ws("/", col("band"), col("key")).as("k"), col("p"))
        .orderBy(col("p").desc).limit(5).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq)
    Some(total)
  }

  private def release(c: Candidates, rows: DataFrame): Unit = {
    if (c != null) c.held.foreach(_.unpersist())
    rows.unpersist()
    ()
  }
}

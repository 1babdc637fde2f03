package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.9): exact, normalized-fingerprint,
  * n-gram Jaccard, and MinHash-LSH near-dup.
  *
  * Scale notes (100 TB):
  *  - exact/normalized dedup: one shuffle on the (hashed) key; group-by of
  *    md5 fingerprints instead of full text keeps shuffle rows small.
  *  - Jaccard pair generation shuffles by shingle; frequency-capping hot
  *    shingles (maxShingleDocs) bounds the quadratic blow-up of common
  *    shingles — the standard candidate-pruning used in web-scale dedup.
  *  - MinHash-LSH replaces the all-pairs shingle join with a band-bucket
  *    join: candidate volume is controlled by (bands, rows-per-band), and
  *    signatures are tiny (numHashes strings per doc). The hash family is
  *    the two 64-bit hex lanes of md5(shingle || '#' || i/2) —
  *    deterministic and portable, so the DuckDB oracle reproduces it
  *    exactly, at half the digests of one-md5-per-signature.
  */
object Dedup {

  /** Conf key bounding the candidate-pair volume a pair-generating
    * dedup operator may feed its verification shuffle. */
  val MaxCandidatePairsConf = "spark.graft.dedup.maxCandidatePairs"

  /** Default candidate-pair ceiling. The verification join ships BOTH
    * documents' sorted fingerprint arrays per candidate pair (~1 KB at
    * this corpus's set sizes), so 1e8 pairs is ~100 GB of verification
    * shuffle — past a single box's scratch, and a red flag even on a
    * cluster: TRUE near-dup pair volume is quadratic in duplication
    * density, so a corpus that trips this is degenerate
    * (mass-replicated boilerplate) or hostile, and the useful output
    * is the bucket diagnostic, not 1e8 pairs. The ceiling is enforced
    * against the EXACT accounted volume (self-matches excluded — see
    * [[tier1Bound]]); the free bounds in [[winnowNearDup]] only decide
    * whether the exact accounting job runs at all (bound <= cap proves
    * safety for free; a tripped bound pays the exact sum, and only
    * exact > cap aborts — so a loose bound costs seconds of
    * accounting, never a spurious abort). Measured by
    * [[graft.tools.DedupGuardProbe]]: winnowNearDup accounts 1.40e6
    * exact pairs at sf0.1 (tier-1 bound 5.9e7 — under the cap, zero
    * accounting jobs) and 1.42e7 at x10 (bounds 6.6e8 / 5.1e8 — trip,
    * pays the ~2-3 s exact accounting: the insurance price scales
    * with the shuffle it insures), while the x100 corpus whose 100
    * perturbed replicas/doc ENOSPC'd this box's 76 GB scratch in
    * round 16 accounts 1.56e9 exact (quadratic in the replication
    * factor) and aborts HERE with the hot fingerprints named. Raise
    * via [[MaxCandidatePairsConf]] (or set <= 0 to disable) only with
    * shuffle capacity to match. */
  val DefaultMaxCandidatePairs: Long = 100_000_000L

  /** Winnowing defaults, named once: the public [[winnowNearDup]]
    * signature, [[winnowRecallGate]]'s rolling leg and
    * [[graft.tools.DedupGuardProbe]]'s bound printout must all winnow
    * with the SAME (k, w) or their "identical selection algorithm"
    * premises silently break. */
  val DefaultWinnowK: Int = 8
  val DefaultWinnowW: Int = 4

  /** The winnow guard's tier-1 bound over a (fp, df) document-frequency
    * aggregate: Σ df·(df-1) >= Σ np·(df-1) (a fingerprint has at most
    * df prefix entries), computed without touching the per-doc
    * fingerprint arrays. The (df-1) weight — not df — is load-bearing
    * at scale: each prefix entry of f always matches ITSELF in f's
    * posting list, so a metric counting self-matches grows with
    * Σ np = Σ prefixLen even at ZERO duplication (measured x10:
    * 1.46e6 of the old metric's 1.57e7 was self-matches) — a
    * legitimate fully-unique corpus ~70x the x10 gate would have
    * falsely aborted on sheer size. With self-matches excluded both
    * the bound and the exact volume measure true duplication only —
    * zero on a unique corpus of ANY size. ONE definition shared by the guard in [[winnowNearDup]]
    * and [[graft.tools.DedupGuardProbe]] — the default-cap headroom
    * comment above is calibrated from the probe's printout, so the two
    * sites must never diverge. */
  private[graft] def tier1Bound(dfCounts: DataFrame): Double =
    tier1FromHist(dfHistogram(dfCounts))

  /** The (df value, count) histogram of a document-frequency aggregate,
    * collected once: a few hundred driver rows (distinct df VALUES, not
    * fingerprints) that feed BOTH free bounds. One Spark job where the
    * former tier-1 + tier-1b chain ran three (the tier-1 sum, the
    * budgeted bound's own histogram, and [[winnowNearDup]]'s second df
    * shuffle for it) — measured +2-3 s/leg at x10, pure overhead since
    * every number below is derivable from this one aggregate. */
  private[graft] def dfHistogram(dfCounts: DataFrame): Array[(Long, Long)] =
    dfCounts.groupBy("df").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)

  /** Σ df·(df-1) from the collected histogram (tier-1, driver-side). */
  private[graft] def tier1FromHist(hist: Array[(Long, Long)]): Double =
    hist.foldLeft(0.0) { case (a, (v, cnt)) =>
      a + v.toDouble * (v - 1) * cnt
    }

  /** Second free bound for Σ np·(df-1) given the prefix-mass budget
    * P = Σ_doc prefixLen_doc: the true np(f) (how many docs carry f in
    * their prefix) satisfies np(f) <= df(f) and Σ np = P, so the worst
    * case assigns the budget to the HOTTEST fingerprints first —
    * grouping by distinct df value v (cnt_v fingerprints each, v·cnt_v
    * assignable units contributing v-1 per unit), the maximum is the
    * v-descending greedy fill. Dominates the exact volume by
    * construction (the exact assignment is feasible for this program),
    * and among bounds computable from the histogram + budget alone it
    * is TIGHT: an adversarial corpus built of all-hottest-fingerprint
    * docs forces prefixes onto the hot fingerprints, realizing the
    * greedy assignment — so no free bound of this family can clear a
    * corpus this one trips on (measured x10: budgeted 5.1e8 vs exact
    * 1.4e7 — the replica corpus's prefix mass COULD sit on its hot
    * fingerprints, rarest-first just doesn't put it there, and only
    * the exact accounting can know that; the x10 winnow rows therefore
    * keep paying the tier-2 job as priced insurance). The histogram is a tiny aggregate (distinct df
    * values, not fingerprints) collected to the driver. */
  private[graft] def budgetedBound(dfCounts: DataFrame, budget: Double): Double =
    budgetedBoundFromHist(dfHistogram(dfCounts), budget)

  /** The v-descending greedy fill from an already-collected histogram —
    * shares [[dfHistogram]]'s single job with [[tier1FromHist]] inside
    * the operator guards. */
  private[graft] def budgetedBoundFromHist(
      hist: Array[(Long, Long)], budget: Double): Double = {
    var remaining = budget
    var bound = 0.0
    hist.foreach { case (v, cnt) =>
      if (remaining > 0) {
        val take = math.min(v.toDouble * cnt, remaining)
        bound += take * (v - 1)
        remaining -= take
      }
    }
    bound
  }

  /** The winnow guard's prefix-mass budget: Σ over docs of the SAME
    * prefix length the candidate join slices
    * (ceil((1-threshold)·n)+1, n = the doc's distinct fingerprint
    * count) — one narrow count aggregate over the exploded (doc_id,
    * fp) rows, no arrays. */
  private def prefixBudget(fp: DataFrame, threshold: Double): Double =
    fp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(
        expr(s"cast(ceil(${1.0 - threshold} * n) as int) + 1")
          .cast("double")), lit(0.0)))
      .head.getDouble(0)

  /** Per-fingerprint document frequency over exploded (doc_id, fp)
    * rows — THE aggregate the winnow guard bounds and accounts.
    * Factored so [[winnowNearDup]] and [[winnowDocFreq]] build it from
    * one definition (the 'cannot diverge' guarantee is by
    * construction, not by parallel copy): a future change to this
    * aggregate reaches the guard, the probe and the specs together. */
  private def docFreq(fp: DataFrame): DataFrame =
    fp.groupBy("fp").agg(count(lit(1)).as("df"))

  /** The (fp, df) document-frequency aggregate for a corpus, as
    * [[winnowNearDup]] builds it for the SAME (k, w, rolling) call
    * shape (distinct-per-doc winnow fingerprints via [[docFreq]]) —
    * for probes that need the tier-1 bound without running the
    * operator. `rolling` defaults to the portable leg, which is what
    * calibrates [[DefaultMaxCandidatePairs]]'s headroom comment; pass
    * `rolling = true` to model a Karp-Rabin-hash call instead (its df
    * lives in a different hash universe, so portable numbers do not
    * predict its tier-2 behavior). */
  private[graft] def winnowDocFreq(
      docs: DataFrame, k: Int = DefaultWinnowK,
      w: Int = DefaultWinnowW, rolling: Boolean = false): DataFrame =
    docFreq(winnowFp(docs, k, w, rolling))

  /** The exploded (doc_id, fp) winnow-fingerprint rows — ONE
    * construction shared by the operator, [[winnowDocFreq]] and
    * [[winnowBudgetedBound]]. */
  private def winnowFp(
      docs: DataFrame, k: Int, w: Int, rolling: Boolean): DataFrame =
    spread(docs).select(col("doc_id"),
      explode(graft.functions.Winnow(
        docs.sparkSession, col("text"), k, w, rolling)).as("fp"))

  /** The winnow guard's tier-1b bound for a corpus, as [[winnowNearDup]]
    * computes it ([[budgetedBound]] over the df histogram with the
    * prefix-mass budget) — for probes that size the default cap's
    * headroom. Pass the SAME dfCounts the tier-1a bound used. */
  private[graft] def winnowBudgetedBound(
      docs: DataFrame, dfCounts: DataFrame, threshold: Double,
      k: Int = DefaultWinnowK, w: Int = DefaultWinnowW,
      rolling: Boolean = false): Double =
    budgetedBound(dfCounts,
      prefixBudget(winnowFp(docs, k, w, rolling), threshold))

  /** Thrown INSTEAD of launching a candidate join whose output volume
    * would bury the shuffle: names the operator, the accounted volume,
    * the ceiling, and the hottest buckets — the actionable form of the
    * failure (which boilerplate key exploded), where the alternative is
    * an executor dead on ENOSPC hours later with nothing attributed. */
  final class CandidateVolumeExceeded(
      val op: String, val totalPairs: Long, val cap: Long,
      val topBuckets: Seq[(String, Long)])
    extends IllegalStateException(
      s"$op: accounted candidate-pair volume $totalPairs exceeds " +
        s"$MaxCandidatePairsConf=$cap; hottest buckets: " +
        topBuckets.map { case (k, v) => s"$k -> $v pairs" }.mkString(", ") +
        ". True pair volume is quadratic in duplication density — a " +
        "corpus tripping this is mass-duplicated or hostile; raise the " +
        "cap (or set it <= 0 to disable) only with shuffle capacity to " +
        "match.")

  /** The configured candidate-pair ceiling; <= 0 means disabled. A
    * malformed value fails by NAMING the conf key — a bare
    * NumberFormatException surfacing from deep inside an operator is
    * unattributable to the setting that caused it. */
  private[ext] def candidatePairCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(MaxCandidatePairsConf).map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$MaxCandidatePairsConf must be a long (got '$v'); " +
            "<= 0 disables the candidate-volume guard")
      }
    }.getOrElse(DefaultMaxCandidatePairs)

  /** Refuse-before-shuffle enforcement: throw [[CandidateVolumeExceeded]]
    * when the accounted volume exceeds the ceiling. The bucket
    * diagnostic is BY-NAME — it costs a Spark job of its own, paid only
    * on the abort path (where latency is irrelevant and attribution is
    * everything); the happy path pays just the caller's one accounting
    * aggregate. */
  private[ext] def enforceCandidateCap(
      op: String, total: Long, cap: Long,
      topBuckets: => Seq[(String, Long)]): Unit =
    if (total > cap)
      throw new CandidateVolumeExceeded(op, total, cap, topBuckets)

  /** One row per distinct document shingle: (doc_id, shingle). The
    * [[graft.functions.ShinglesExpr]] kernel tokenizes, windows, AND
    * set-dedups per row inside whole-stage codegen — no exchange of its own
    * (the previous formulation exploded tokens and shuffled them by doc_id
    * for a window `lead()`, then paid a second `.distinct()` exchange; that
    * token-table shuffle dominated every dedup query). */
  def docShingles(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs).select(
      col("doc_id"),
      explode(graft.functions.TextKernels.shingleArray(
        docs.sparkSession, col("text"), n, distinct = true)).as("shingle"))

  /** Shingles WITHOUT set-dedup (positional multiset). Enough for MinHash
    * signatures: min(hash) over a multiset equals min over its set. */
  def docShinglesRaw(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs).select(
      col("doc_id"),
      explode(graft.functions.TextKernels.shingleArray(
        docs.sparkSession, col("text"), n, distinct = false)).as("shingle"))

  /** The shingle kernel does ALL its CPU work (tokenize, n-gram, and the
    * downstream hash aggregations that fuse into the same codegen stage)
    * before the first exchange, so its parallelism is pinned to the SCAN's
    * partition count. A small local parquet file is one row group = one
    * partition = one core. Spread the (compact — text only, not exploded
    * tokens) doc rows across the cluster when, and only when, the source
    * has fewer partitions than cores; a 100 TB input already arrives with
    * >= parallelism splits and passes through untouched. */
  private[graft] def spread(docs: DataFrame): DataFrame = {
    // streaming frames: the partition-count probe below eagerly plans a
    // BATCH execution (queryExecution.executedPlan / toRdd), which throws
    // AnalysisException on an unstarted stream — and the probe is
    // meaningless there anyway (each microbatch plans its own scan, and
    // foreachBatch hands operators a batch frame that takes the normal
    // path). No-op so operators built on spread stay composable on
    // streaming frames.
    if (docs.isStreaming) return docs
    val target = docs.sparkSession.sparkContext.defaultParallelism
    // partition count from plan metadata when the partitioning is known;
    // file scans report UnknownPartitioning(0), so fall back to the
    // INTERNAL RDD — unlike docs.rdd this skips planning the extra
    // row-deserializer projection just to read a count
    val meta = docs.queryExecution.executedPlan.outputPartitioning.numPartitions
    val n = if (meta > 0) meta else docs.queryExecution.toRdd.getNumPartitions
    if (n >= target) return docs
    // Inject the round-robin repartition BELOW the caller's deterministic
    // Project chain, not above it: a `.repartition` on the projected frame
    // leaves the projection in the scan stage, so a per-row kernel the
    // caller attached (FeatureHash, tokenizers) runs at the SCAN's
    // parallelism — one core for a single-row-group local file (measured:
    // q_semdedup's sizing count spent 0.4-1.0 s evaluating FeatureHash on
    // one task before this). Catalyst never moves projections across a
    // user repartition on its own. Only deterministic projections are
    // descended (a non-deterministic expression may not be re-ordered
    // across a shuffle); anything else gets the repartition directly on
    // top, which is the old behavior. Row multiset is unchanged either
    // way, so results are identical.
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
    // "really deterministic": deterministic after stripping PlanBarrier
    // wrappers, which are value-deterministic but MARKED non-deterministic
    // to pin their Filter (see graft.functions.PlanBarrier)
    def reallyDet(e: Expression): Boolean =
      e.transformUp { case graft.functions.PlanBarrier(c) => c }.deterministic
    def inject(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project if pr.projectList.forall(reallyDet) =>
        pr.copy(child = inject(pr.child))
      // filters are row-local, so shuffling before or after them is
      // equivalent — descend them too (a TRULY non-deterministic
      // condition, e.g. rand(), draws per-partition streams and may NOT
      // move across a repartition; reallyDet excludes those)
      case f: Filter if reallyDet(f.condition) =>
        f.copy(child = inject(f.child))
      case other => Repartition(target, shuffle = true, other)
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(
      docs.sparkSession, inject(docs.queryExecution.analyzed))
  }

  /** Shingle-set sizes per doc. */
  private def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** Exact Jaccard over candidate pairs: ONE doc_id aggregation builds
    * each candidate doc's (distinct-shingle array, size), and every pair
    * is scored map-side via array_intersect — the [[DedupIndex]] sets
    * pattern. The former formulation replayed the row-level shingle
    * join (pairs ⋈ (doc, shingle) rows on (doc_b, shingle), a count
    * aggregation, then TWO size joins — 4 exchanges where this needs 1,
    * measured as the repeated 0.2-0.4 s 33/65-task jobs on every LSH
    * query). `pairs` must have columns (doc_a, doc_b) and is assumed
    * small relative to the corpus (LSH candidates under the volume
    * guard) — it broadcasts, so the sets frame never shuffles. `sh` must
    * be distinct (doc_id, shingle) rows, as [[docShingles]] emits; the
    * intersection size is then exactly the old join's match count and
    * the emitted double is bit-identical.
    *
    * Every candidate pair whose two docs both have shingles yields
    * exactly one row, so a pair that shares NO shingle comes back with
    * `jaccard = 0.0`; a pair with a doc absent from `sh` yields none.
    * Callers that want near-duplicates filter on `jaccard`. */
  def jaccardFor(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val sets = sh.groupBy("doc_id")
      .agg(collect_list(col("shingle")).as("hs"), count(lit(1)).as("n_sh"))
    broadcast(pairs)
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("ha"),
        col("n_sh").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hb"),
        col("n_sh").as("nb")), "doc_b")
      // c is projected to an attribute FIRST and BARRIER-wrapped: codegen
      // has no cross-expression CSE, and the caller's jaccard>=t filter
      // would otherwise substitute the whole division — intersection
      // kernel included — into the join condition AND keep it in the
      // project (measured: 3 array_intersect evaluations per candidate
      // pair in the plan). The barrier pins the kernel to this one
      // projection; the filter then tests plain attributes.
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        graft.functions.PlanBarrier(sh.sparkSession,
          size(array_intersect(col("ha"), col("hb"))).cast("long")).as("c"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** All-pairs n-gram Jaccard near-duplicates above `threshold` — exact,
    * via the direct shingle self-join. Pair volume is sum over shingles of
    * freq^2, which is benign while shingle frequency is bounded (this
    * corpus: max 25). At web scale with hot shingles, [[minhashNearDup]]
    * is the candidate-pruned path; a prefix-filter (AllPairs/PPJoin)
    * variant was measured here and lost — its candidate re-verification
    * rejoins every shingle of every candidate doc (~8x the rows of the
    * direct join on this distribution). */
  def jaccardNearDup(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    val sh = docShingles(docs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = shingleSizes(sh)
    val a = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val out = inter
      .join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
      .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
      .select(
        col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
    // materialize the (tiny) pair set, then release the corpus-sized
    // shingle cache — callers get a lineage-free frame and no cached blocks
    val pairs = Lineage.cut(out)
    sh.unpersist()
    pairs
  }

  /** MinHash signatures in ONE aggregation pass (single shuffle on doc_id,
    * no per-hash row explosion): each md5 digest is sliced into TWO 64-bit
    * lanes (hex chars 1-16 / 17-32), so signature i minimizes lane (i%2) of
    * md5(shingle || '#' || i/2) — 9 signatures from 5 digests instead of 9,
    * nearly halving the dominant per-shingle hashing cost. Lexicographic
    * min over fixed-width lowercase hex == numeric min over the lane; md5's
    * avalanche makes the two lanes of one digest independent for min-wise
    * use. Output: doc_id, sig_0..n-1. */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val sigCols = (0 until numHashes).map { i =>
      val digest = md5(concat(col("shingle"), lit("#"), lit((i / 2).toString)))
      min(substring(digest, 1 + 16 * (i % 2), 16)).as(s"sig_$i")
    }
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH band-bucket rows (doc_id, band, bkey) for a shingle frame —
    * the bucketing half of [[minhashNearDup]], shared with the
    * against-corpus variant and the persisted [[DedupIndex]]. */
  private[graft] def minhashBandRows(
      sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = minhashSignatures(sh, bands * rowsPerBand)
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"sig_${b * rowsPerBand + r}")): _*)).as("bkey"))
    }
    sigs.select(
      col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** MinHash-LSH near-dup: band signatures into `bands` buckets of
    * `rowsPerBand`, bucket-join for candidates, then verify with exact
    * Jaccard >= threshold. Fully deterministic (md5 hash family).
    *
    * Plan shape at scale: shingles (1 shuffle) → signatures (1 shuffle,
    * 9 tiny string columns per doc) → band rows (narrow) → candidate
    * pairs from [[CandidatePairs]] (guarded bucket self-join on
    * (band, bkey)) → exact-Jaccard verification only for the few
    * candidates (broadcast of the candidate set).
    *
    * CONTRACT — precision is exact (every emitted pair is verified
    * against true Jaccard), recall follows the LSH S-curve
    * 1 - (1 - j^rowsPerBand)^bands. The (3, 3) default centers the
    * curve at (1/3)^(1/3) ≈ 0.69 — textbook sizing for threshold 0.7 —
    * which means per-pair recall is ~88% at j = 0.8 and ~98% at
    * j = 0.92; `tools/MinhashCheck` measured it against the exact
    * inverted-index ground truth: pair-exact at sf0.01/sf0.1, and
    * 2553/2560 at x10 with all 7 misses at j 0.80-0.92, exactly on the
    * curve. Recall-sensitive dedup should MARGIN-size the banding —
    * (bands = 16, rowsPerBand = 4) centers the curve at 0.5 for ~99%
    * recall at j >= 0.7 (measured 2560/2560 at x10) at 64 hashes
    * (~6.4x the signature cost, still one aggregation pass); the
    * registry keeps (3, 3) because its oracle replays the banding
    * deterministically, gating the LSH path itself. */
  def minhashNearDup(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 3,
      rowsPerBand: Int = 3,
      n: Int = 3): DataFrame = {
    // distinct shingles: the kernel set-dedups per row for free, shrinking
    // the signature aggregation's input (min over set == min over multiset)
    val raw = docShingles(docs, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try CandidatePairs.self("minhashNearDup", bandKeyed(raw, bands, rowsPerBand)) { c =>
      val candidates = c.hold(c.pairs)
      val candDocs = candidates.select(col("doc_a").as("doc_id"))
        .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
      val shCand = raw.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      // materialize verified pairs (tiny by construction): downstream
      // consumers (cluster resolution, reporting) must not inherit cached
      // blocks or a plan that re-embeds this whole DAG into every action
      Lineage.cut(
        jaccardFor(candidates, shCand).where(col("jaccard") >= threshold))
    } finally { raw.unpersist(); () }
  }

  /** [[minhashBandRows]] with the bucket key named as [[CandidatePairs]]
    * reads it. */
  private def bandKeyed(sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    minhashBandRows(sh, bands, rowsPerBand).withColumnRenamed("bkey", "key")

  /** Incremental near-dup: detect which documents of a NEW batch are
    * near-duplicates of an EXISTING corpus — the dedup pass every
    * recurring crawl/ingest runs, where re-deduping the whole corpus
    * from scratch ([[minhashNearDup]] over the union) would redo work
    * proportional to corpus size on every batch. Same deterministic md5
    * LSH family as the batch operator, so candidates are identical to
    * what the self-join variant would find across the split.
    *
    * THIS overload recomputes the corpus side's shingles and band rows
    * per call — use it for one-shot splits of in-memory frames. For
    * recurring ingest, build a persisted [[DedupIndex]] once and probe it
    * with [[DedupIndex.searchAgainst]] (identical output, spec-pinned):
    * per-batch work is then O(batch + candidates), never O(corpus). Doc
    * ids must be distinct across the two frames. Candidates and the
    * volume guard come from [[CandidatePairs.against]].
    * Output: (doc_id [batch], dup_of [corpus], jaccard). */
  def minhashNearDupAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      threshold: Double,
      bands: Int = 3,
      rowsPerBand: Int = 3,
      n: Int = 3): DataFrame = {
    val cSh = docShingles(corpus, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bSh = docShingles(batch, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the probe side is read twice (bucket counts, candidate join): its
    // signatures are computed once
    val bBands = bandKeyed(bSh, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cross-side candidates only: batch x corpus, never corpus x corpus
    try CandidatePairs.against("minhashNearDupAgainst",
        bBands, bandKeyed(cSh, bands, rowsPerBand)) { c =>
      val candidates = c.hold(c.pairs)
      val candDocs = candidates.select(col("doc_a").as("doc_id"))
        .union(candidates.select(col("doc_b").as("doc_id"))).distinct()
      val shCand = cSh.union(bSh)
        .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      Lineage.cut(
        jaccardFor(candidates, shCand).where(col("jaccard") >= threshold)
          .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
            col("jaccard")))
    } finally { cSh.unpersist(); bSh.unpersist(); bBands.unpersist(); () }
  }

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS and pick a
    * survivor per cluster (min doc_id): connected components via iterative
    * min-label propagation to fixpoint, restricted to the PAIR-INCIDENT
    * subgraph — near-dups are a small fraction of any corpus, so singleton
    * docs never enter the iteration and are stitched back with one final
    * left join. Iteration count is O(component diameter) (near-cliques:
    * 1-2 rounds); each round is one shuffle-join + aggregate, and
    * convergence is detected by a one-row label-sum aggregate (labels only
    * ever decrease, so an unchanged sum IS the fixpoint — no per-round
    * change-detection join). The expensive Jaccard pair generation is
    * materialized once with a lineage cut ([[Lineage.cut]]), so no round
    * re-plans or re-runs it. (At extreme scale the large-star/small-star
    * formulation halves rounds further.)
    * Output: (doc_id, cluster_root, keep).
    *
    * Pairs come from [[minhashNearDup]] — LSH candidate generation followed
    * by exact-Jaccard verification of candidates only — NOT the all-pairs
    * shingle self-join: at 100 TB the quadratic join is the one unshippable
    * plan, while band-bucketing keeps candidate volume tunable via
    * (bands, rowsPerBand). Verified pairs are exact Jaccard >= threshold,
    * so clusters match the all-pairs generator whenever LSH recall is 1
    * (this corpus: identical, pinned by q_minhash_lsh == q_jaccard_neardup).
    * LSH recall 1-(1-s^r)^b < 1 in general, so clusters can under-merge:
    * tune it via (bands, rowsPerBand), or set exact=true to route through
    * [[jaccardNearDup]] (recall 1 at quadratic candidate cost). */
  def duplicateClusters(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 3,
      rowsPerBand: Int = 3,
      exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) jaccardNearDup(docs, threshold)
      else minhashNearDup(docs, threshold, bands, rowsPerBand)
    resolveClusters(docs, pairs.select("doc_a", "doc_b"))
  }

  /** Cluster resolution given an explicit near-dup pair set (columns
    * doc_a, doc_b) — the connected-components half of [[duplicateClusters]],
    * reusable with ANY candidate generator (Jaccard, MinHash, SimHash
    * radius, embedding cosine) and property-tested against a union-find
    * reference in AdvancedSpec. */
  def resolveClusters(docs: DataFrame, pairsIn: DataFrame): DataFrame =
    resolveClusters(docs, pairsIn, driverLimit = 2000000L)

  /** As [[resolveClusters]]; `driverLimit` bounds the HYBRID fast path:
    * near-dup pair sets are tiny relative to the corpus by construction
    * (they are what survives LSH + exact verification), so up to
    * `driverLimit` edges the components resolve with an in-memory
    * union-find on the driver (microseconds, zero extra jobs) and only
    * the label map ships back — the same bounded-collect pattern as
    * quantizer training. Past the limit the distributed min-label
    * fixpoint below takes over unchanged. Both paths are property-tested
    * equal in AdvancedSpec. */
  def resolveClusters(docs: DataFrame, pairsIn: DataFrame, driverLimit: Long): DataFrame = {
    // Lineage.cut, not persist: a cached plan still carries the whole
    // upstream DAG (the LSH pipeline) for recompute, and the fixpoint loop
    // would nest it one InMemoryRelation deeper per round — driver-side
    // planning then dominates (measured 2-5 s per action on 256 pairs).
    // Checkpointed frames keep every round's plan constant-size.
    val pairs = Lineage.cut(pairsIn.select("doc_a", "doc_b"))
    if (pairs.count() <= driverLimit) return resolveClustersDriver(docs, pairs)
    val incident = pairs.select(col("doc_a").as("n"))
      .union(pairs.select(col("doc_b").as("n"))).distinct()
    val edges = Lineage.cut(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
        .union(incident.select(col("n").as("a"), col("n").as("b"))))
    // self-loops put each node's own id into its neighborhood min, so the
    // first aggregation already IS round 1 of propagation
    var labels = Lineage.cut(edges.groupBy("a").agg(min("b").as("m")))
    // decimal sum: overflow-proof even for 10^12-scale ids on billions of
    // incident nodes. sum over ZERO rows is NULL (empty pair set — clean
    // corpus or high threshold): map it to 0 so the fixpoint check still
    // converges instead of NPEing, and every doc falls out as a singleton
    // via the final left join.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("m").cast("decimal(38,0)"))).first().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val next = Lineage.cut(edges
        .join(labels.select(col("a").as("b"), col("m")), Seq("b"))
        .groupBy("a").agg(min("m").as("m")))
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    docs.select(col("doc_id"))
      .join(labels.select(col("a").as("doc_id"), col("m")), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("m"), col("doc_id")).as("cluster_root"),
        (coalesce(col("m"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Driver union-find over an already-materialized small pair set; the
    * (node -> min-id root) map broadcasts back for the stitch join. */
  private def resolveClustersDriver(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val ra = find(a); val rb = find(b)
      // union by MIN id: root IS the cluster label, matching the
      // distributed min-label fixpoint exactly
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      parent.getOrElseUpdate(ra.min(rb), ra.min(rb))
    }
    val labels = (edges.iterator.flatMap(e => Iterator(e._1, e._2)))
      .toSet.toSeq.map((n: Long) => (n, find(n)))
    val spark = docs.sparkSession
    import spark.implicits._
    val labelDf = labels.toDF("doc_id", "m")
    docs.select(col("doc_id"))
      .join(broadcast(labelDf), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("m"), col("doc_id")).as("cluster_root"),
        (coalesce(col("m"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** Keep-BEST-per-cluster dedup resolution: real pipelines keep the
    * highest-quality member of each duplicate cluster, not an arbitrary
    * one — here the longest document (alpha chars, ties to the smaller
    * doc_id), with the score column swappable for any quality signal.
    * Builds on [[duplicateClusters]]'s components; only the keep choice
    * changes.
    *
    * Scale shape: ONE extra shuffle beyond clustering — the window
    * partitions by cluster_root (overwhelmingly singleton groups, so
    * sort cost ~ corpus scan) and ranks by (score DESC, doc_id). An
    * aggregate-then-join formulation would shuffle twice for the same
    * answer. Output: (doc_id, cluster_root, score, keep). */
  def keepBestPerCluster(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 3,
      rowsPerBand: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = duplicateClusters(docs, threshold, bands, rowsPerBand)
      .select("doc_id", "cluster_root")
    val scored = docs.select(
      col("doc_id"),
      length(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
        .cast("long").as("score"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_root")
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_root"), col("score"),
        (col("rn") === 1).as("keep"))
  }

  /** SimHash (64-bit) over distinct 3-gram shingles using xxhash64 —
    * Spark-native scale path (no portable oracle; verified by rows-only
    * check + unit tests). simhash bit b = sign of sum over shingles of
    * (bit_b(xxhash64(shingle))*2-1). Shingles, not unigrams: on a small
    * shared vocabulary unigram sets overlap heavily across unrelated docs
    * and the signature stops discriminating. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docShingles(docs).withColumnRenamed("shingle", "token")
    // 64 per-bit vote sums as ONE aggregation (single shuffle on doc_id,
    // no 64x row explosion): bit b votes +1/-1 by bit b of xxhash64(token)
    val h = xxhash64(col("token"))
    val votes = (0 until 64).map(b =>
      sum(shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b"))
    combineBits(tok.groupBy("doc_id").agg(votes.head, votes.tail: _*))
  }

  /** Portable SimHash: same banded-vote construction, but the 64 bits come
    * from the 16 hex digits of md5(shingle) (4 bits each) instead of
    * xxhash64 — reproducible in any engine with md5, which buys a DuckDB
    * oracle at the cost of the slower hash. [[simhash]] stays the scale
    * path. The digit extraction runs through the codegen'd
    * [[graft.functions.Md5Sim64]] kernel (one digest + shifts per shingle,
    * replacing 16 conv/substr string ops); bit-identical to the oracle's
    * substr/conv formulation. */
  def simhashPortable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val m = docShingles(docs)
      .select(col("doc_id"), graft.functions.Md5Sim.apply(spark, col("shingle")).as("h"))
    val votes = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b"))
    combineBits(m.groupBy("doc_id").agg(votes.head, votes.tail: _*))
  }

  /** Winnowing-fingerprint near-dup (MOSS): documents are reduced to their
    * winnowed fingerprint sets ([[graft.functions.Winnow]] — ~2/(w+1) of
    * all k-gram hashes, with a shared-substring guarantee), then pairs
    * are scored by NORMALIZED overlap |F_a ∩ F_b| / min(|F_a|, |F_b|) —
    * containment-style, so a near-copy embedded in a longer document
    * still scores ~1.
    *
    * Candidate generation is the RAREST-FIRST PREFIX FILTER (the same
    * recall-1 machinery as [[PipelineOps.containmentPairsPrefix]],
    * applied to fingerprint sets): for the smaller set A of a qualifying
    * pair, overlap >= t forces containment of A >= t, so at most
    * ⌊(1-t)·|A|⌋ of A's fingerprints are missing from B and one of A's
    * first ⌈(1-t)·|A|⌉ + 1 fingerprints IN GLOBAL-RARITY ORDER must be
    * shared (pigeonhole — lossless, not probabilistic). Only those
    * prefix fingerprints join the inverted index, so hot boilerplate
    * fingerprints generate candidates ONLY for documents that are
    * almost entirely boilerplate, and no df cap is needed at all. This
    * replaced the MOSS hot-key df cap: a FIXED cap silently dropped 13%
    * of true pairs at x10 (the fixed-parameter scale trap), and the
    * corpus-RELATIVE cap that restored recall admitted Σ df² join
    * volume that measured ~linear-in-corpus (38 s at the x10 gate) —
    * the prefix filter keeps recall 1 with candidates bounded by
    * rare-fingerprint df. Verification is a zero-allocation two-pointer
    * merge over each pair's numerically sorted fingerprint arrays
    * ([[graft.functions.SortedIntersect]]).
    *
    * `rolling = true` switches to the O(len) Karp-Rabin gram hash
    * (engine-specific values; gate via [[winnowRecallGate]]).
    * Output: (doc_a, doc_b, overlap), doc_a < doc_b. Overlap counts and
    * fingerprint-set sizes are integers, so the emitted double is a
    * single exact division — bit-identical across engines. */
  def winnowNearDup(
      docs: DataFrame, threshold: Double, k: Int = DefaultWinnowK,
      w: Int = DefaultWinnowW, rolling: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    val fp = winnowFp(docs, k, w, rolling)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = candidatePairCap(spark)
    // with the guard on, the df aggregate is consumed twice — the
    // histogram job first, then the sets join — and it is the widest
    // shuffle this side of the candidate join (measured +2.4 s/leg at
    // x10 when recomputed); persist so the guard's consumer pays the
    // shuffle once and the join reads cache. Guard off = single
    // consumer = no cache (the join pipelines it as before).
    val df = docFreq(fp)
    if (cap > 0) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ()
    }
    // ONE doc_id aggregation builds everything per doc: the fingerprint
    // array in rarest-first (global df asc, fp asc) order for prefix
    // slicing, the numerically sorted array for two-pointer
    // verification, and the set size
    val prefixLen = s"cast(ceil(${1.0 - threshold} * n) as int) + 1"
    val sets = fp.join(df, Seq("fp"))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("df"), col("fp")))).as("rf"),
        sort_array(collect_list(col("fp"))).as("seth"),
        count(lit(1)).as("n"))
      // strip the sort keys before persisting, but first fold THIS doc's
      // candidate-volume contribution out of them: each prefix entry
      // joins df(fp) inverted-index rows, of which df-1 are OTHER
      // documents (the entry always matches its own doc — counting
      // those self-matches would make the metric grow with corpus size
      // on a duplication-free corpus, see [[tier1Bound]]), so
      // Σ (df-1) over the prefix slice is the doc's exact candidate
      // count — one scalar per doc, making the guard below a narrow
      // sum with no join and no extra shuffle
      .select(col("doc_id"),
        expr("transform(rf, s -> s.fp)").as("rare_first"),
        expr(s"aggregate(slice(rf, 1, $prefixLen), 0L, (a, s) -> a + s.df - 1)")
          .as("pvol"),
        col("seth"), col("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus-scale cached blocks must not outlive a guard abort (the
    // minhashNearDup rule): unpersist in finally, not after the cut
    try {
      // refuse-before-shuffle: the stage that ENOSPC'd the x100 box in
      // round 16 dies HERE with the hot fingerprints named instead.
      // TWO TIERS, because the accounting action's cost is all in WHERE
      // it runs: tier 1 bounds the volume by Σ df·(df-1) — since a
      // fingerprint has at most df prefix entries, each matching df-1
      // OTHER docs, Σ np·(df-1) <= Σ df·(df-1) — computed from the df
      // aggregate alone (no collect_list arrays, so the sets cache
      // round-trip stays pipelined inside the main job; measured
      // +3.4 s/call at x10 when the exact sum ran as its own job, ~0
      // for this bound). Self-match exclusion makes the bound measure
      // DUPLICATION, not size: zero on a fully-unique corpus of any
      // scale. bound <= cap PROVES the corpus safe for free (sf0.1:
      // 5.4e7); a tripped bound pays tier 1b (the budgeted bound — two
      // more narrow jobs, tight within the free family, see
      // [[budgetedBound]]) and then tier 2, the exact Σ pvol, and the
      // CAP IS ENFORCED ON THE EXACT VOLUME ONLY — a loose bound
      // (x10: 6.1e8 / 4.4e8 vs 1.3e6 exact) costs seconds of
      // accounting, never a spurious abort, so the default cap stays
      // at the volume that is actually dangerous instead of being
      // inflated to whatever the bound reads on a legitimate corpus.
      if (cap > 0) {
        // ONE df-histogram job feeds both free bounds driver-side (the
        // former chain ran tier 1, the budget and the budgeted bound's
        // histogram as three separate shuffled aggregations); the
        // prefix-mass budget is only computed once tier 1 has tripped
        val hist = dfHistogram(df)
        if (tier1FromHist(hist) > cap.toDouble &&
            budgetedBoundFromHist(hist,
              prefixBudget(fp, threshold)) > cap.toDouble) {
          val total = sets.agg(coalesce(sum("pvol"), lit(0L))).head.getLong(0)
          enforceCandidateCap("winnowNearDup", total, cap,
            sets.select(explode(expr(s"slice(rare_first, 1, $prefixLen)"))
                .as("fp"))
              .groupBy("fp").agg(count(lit(1)).as("np"))
              .join(df, Seq("fp"))
              .select(col("fp"), (col("np") * (col("df") - 1)).as("p"))
              .orderBy(col("p").desc).limit(5).collect()
              .map(r => r.get(0).toString -> r.getLong(1)).toSeq)
        }
      }
      // NOT broadcastIfSmall here (negative result, r22): eagerly
      // materializing the candidate pairs to broadcast them into the
      // verification joins measured +18-21% at sf0.1 (q_winnow_neardup
      // 3.48->4.10, q_winnow_fast 4.90->5.94 min-of-3) — the extra
      // checkpoint+count action costs more than the doc_id shuffles it
      // avoids, and AQE already converts the post-shuffle verification
      // joins when the candidate side materializes small
      val cand = sets
        .select(col("doc_id"), explode(expr(
          s"slice(rare_first, 1, $prefixLen)"))
          .as("fp"))
        .select(col("doc_id").as("doc_p"), col("fp"))
        .join(fp.select(col("doc_id").as("doc_q"), col("fp")), Seq("fp"))
        .where(col("doc_p") =!= col("doc_q"))
        .select(least(col("doc_p"), col("doc_q")).as("doc_a"),
          greatest(col("doc_p"), col("doc_q")).as("doc_b"))
        .distinct()
      // the intersection is projected to a BARRIER-wrapped attribute
      // first: the ov>=threshold filter would otherwise substitute the
      // two-pointer merge into the join condition and keep it in the
      // round() project — 2 kernel evaluations per candidate pair
      // (measured in the committed plan dump); the barrier pins it to one
      val out = cand
        .join(sets.select(col("doc_id").as("doc_a"), col("seth").as("ha"),
          col("n").as("na")), "doc_a")
        .join(sets.select(col("doc_id").as("doc_b"), col("seth").as("hb"),
          col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (graft.functions.PlanBarrier(spark, graft.functions.SortedIntersect(
            spark, col("ha"), col("hb")).cast("double"))
            / least(col("na"), col("nb"))).as("ov"))
        .where(col("ov") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("ov"), 6).as("overlap"))
      Lineage.cut(out)
    } finally {
      fp.unpersist()
      sets.unpersist()
      if (cap > 0) { df.unpersist(); () }
    }
  }

  /** Self-validating gate for the rolling-hash winnowing variant, same
    * construction as [[simhashRecallGate]]: rows are the md5-portable
    * winnowing pairs (SQL-reproducible ground truth, hash-checked), plus
    * one aggregate boolean pinning that the Karp-Rabin variant recovers
    * at least `floor` of them. Both variants run the identical selection
    * algorithm over differently-hashed grams, so on corpora where
    * near-dup margins are wide (here: overlap >= 0.9 vs next pair at
    * 0.57) the pair sets agree — a selection or rolling-arithmetic bug
    * drops agreement and flips the boolean. */
  def winnowRecallGate(
      docs: DataFrame, threshold: Double = 0.7,
      floor: Double = 0.9): DataFrame = {
    val spark = docs.sparkSession
    val portable = winnowNearDup(docs, threshold)
      .select("doc_a", "doc_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The rolling leg does NOT re-run the full operator. Its prefix
      // filter is recall-1 by pigeonhole (lossless for ANY fingerprint
      // ordering — see [[winnowNearDup]]'s candidate-generation doc and
      // the WinnowSpec losslessness test), so the rolling operator's
      // output is EXACTLY {pairs : rolling overlap >= threshold}. Pair
      // membership is therefore decidable by scoring each portable pair
      // directly against the rolling fingerprint sets of just the pair
      // members — the Karp-Rabin hash arithmetic and winnow selection
      // (the things this gate validates; the join machinery is the
      // byte-identical code path the portable leg just exercised under
      // its oracle) still run in full, while the rolling leg's df
      // shuffle, per-doc array build, candidate join, guard accounting
      // and pair verification all drop away. Measured at x10: the full
      // second operator run was ~25 s of the gate's 52 s stamp; this
      // scoring leg reads only the pair members' text (a semi-join
      // pushed to the scan). No candidate join ⇒ no volume guard
      // needed on this leg; the portable leg keeps its own.
      val pairDocs = portable.select(col("doc_a").as("doc_id"))
        .unionByName(portable.select(col("doc_b").as("doc_id")))
        .distinct()
      val rollSets = winnowFp(
          docs.join(pairDocs, Seq("doc_id"), "left_semi"),
          DefaultWinnowK, DefaultWinnowW, rolling = true)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("fp"))).as("seth"),
          count(lit(1)).as("n"))
      val inter = graft.functions.SortedIntersect(
        spark, col("ha"), col("hb")).cast("double")
      // left joins + a 0.0 fallback: a pair member whose rolling
      // fingerprint set came back empty (a selection bug) must count
      // as a MISS, not vanish from the denominator
      val scored = portable
        .join(rollSets.select(col("doc_id").as("doc_a"),
          col("seth").as("ha"), col("n").as("na")), Seq("doc_a"), "left")
        .join(rollSets.select(col("doc_id").as("doc_b"),
          col("seth").as("hb"), col("n").as("nb")), Seq("doc_b"), "left")
        .select(
          when(col("na").isNotNull && col("nb").isNotNull,
            inter / least(col("na"), col("nb")))
            .otherwise(lit(0.0)).as("ov"))
      val agg = scored.agg(count(lit(1)).as("n"),
        sum(when(col("ov") >= threshold, 1L).otherwise(0L)).as("hits"))
      val out = portable.crossJoin(broadcast(agg))
        .select(col("doc_a"), col("doc_b"),
          (col("hits") >= lit(floor) * col("n")).as("recall_ok"))
      Lineage.cut(out)
    } finally { portable.unpersist(); () }
  }

  /** Self-validating gate for the xxhash64 SimHash scale variant, whose
    * signature values no other engine can reproduce: the emitted rows are
    * the EXACT Jaccard>=threshold near-dup pairs (fully SQL-reproducible,
    * so the oracle hash-checks the shingle+Jaccard kernels for real) plus
    * one aggregate boolean pinning SimHash recall on that ground truth —
    * the fraction of true near-dup pairs whose 64-bit signatures land
    * within `maxHamming` must reach `floor`. Calibration
    * ([[graft.tools.SimhashRecall]]): recall@ham<=8 measured 0.92-0.95
    * across sf0.001-0.1, while a broken signature pipeline scores ~0
    * (random 64-bit hamming concentrates at 32 +- 4), so floor 0.5 has
    * >= 1.8x margin on both sides. Aggregate, not per-pair: SimHash is a
    * probabilistic sketch and individual 0.7-Jaccard pairs legitimately
    * land at hamming 9-12. */
  def simhashRecallGate(
      docs: DataFrame, threshold: Double = 0.7, maxHamming: Int = 8,
      floor: Double = 0.5): DataFrame = {
    val pairs = jaccardNearDup(docs, threshold).select("doc_a", "doc_b")
    val sig = simhash(docs)
    val ham = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sa ^ sb)").as("ham"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = ham.agg(
      count(lit(1)).as("n"),
      sum(when(col("ham") <= maxHamming, 1L).otherwise(0L)).as("hits"))
    val out = ham.select(col("doc_a"), col("doc_b"))
      .crossJoin(broadcast(agg))
      .select(col("doc_a"), col("doc_b"),
        (col("hits") >= lit(floor) * col("n")).as("recall_ok"))
    val cut = Lineage.cut(out)
    ham.unpersist()
    cut
  }

  /** (doc_id, v0..v63 vote sums) -> (doc_id, simhash): set bit b when the
    * vote is positive. Disjoint bit contributions sum without overflow
    * (bit 63's contribution IS Long.MinValue, two's complement). */
  private def combineBits(voteSums: DataFrame): DataFrame =
    voteSums.select(
      col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).cast("long").as("simhash"))
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.9).
  *
  * Scale design: brute-force cosine is the exact baseline — O(|probes| *
  * |corpus|) with the probe side broadcast, so the corpus never shuffles.
  * The bucketed variant (IVF-style: compare only within a coarse bucket)
  * is the 100 TB path: a same-key shuffle join, with bucket granularity
  * controlling the candidate volume. Dot products are left-to-right folds
  * over the array (deterministic; identical to the DuckDB oracle).
  */
object Similarity {

  /** Dot product via the native codegen'd expression
    * ([[graft.functions.DotProduct]]); same sequential fold semantics as
    * the HOF form below, ~an order of magnitude faster per row. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(org.apache.spark.sql.SparkSession.active, a, b)

  /** Reference HOF formulation (kept for parity testing: bit-identical). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** (vec_id [, extra cols], v: array<double>, nrm) from an embeddings table. */
  def prepared(emb: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val v = col("embedding").cast("array<double>")
    emb.select((Seq(col("vec_id")) ++ extra.map(col) :+ v.as("v")): _*)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Exact top-k cosine neighbors of each probe over the whole corpus.
    * Probes are broadcast; the corpus side streams — no corpus shuffle
    * until the final per-probe top-k (a tiny aggregation). */
  def cosineTopK(emb: DataFrame, probeFilter: Column, k: Int): DataFrame = {
    val p = prepared(emb)
    val q = p.where(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val c = p.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val sims = c.crossJoin(broadcast(q))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("cos"))
    sims
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= k)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("sim"))
  }

  /** Self-validating recall gate for exact-reranked ANN queries: one row
    * per probe carrying the EXACT top-k ranking (comma-joined cid list in
    * rank order — reproducible by any engine, so the DuckDB oracle checks
    * the engine's exact kernel for real) and a boolean pinning AGGREGATE
    * ANN recall@k >= `floor` across all probes (the oracle side asserts
    * `true`; a quantizer/search regression that collapses recall flips the
    * boolean and fails the hash check). Aggregate, not per-probe: on
    * unstructured (synthetic-random) embeddings individual probes
    * legitimately hit 0 of k while the mean stays far above any broken
    * pipeline (~0). ANN results stay distributed; only two one-row
    * aggregates cross to the output rows. */
  def recallGate(
      emb: DataFrame, ann: DataFrame, probeFilter: Column, k: Int,
      floor: Double, candFilter: Column = lit(true)): DataFrame = {
    val p = prepared(emb)
    val q = p.where(probeFilter)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val c = prepared(emb.where(candFilter))
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val exact = c.crossJoin(broadcast(q))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("cos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= k)
      .select("qid", "cid", "rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = exact
      .join(ann.select(col("qid"), col("cid"), lit(1).as("__hit")),
        Seq("qid", "cid"), "left")
      .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
    val out = exact.groupBy("qid")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(rn, cid))), " +
        "s -> cast(s.cid as string)), ',')").as("exact_topk"))
      .crossJoin(broadcast(agg))
      .select(col("qid"), col("exact_topk"),
        (col("hits") >= lit(floor) * col("n")).as("recall_ok"))
    val cut = Lineage.cut(out)
    exact.unpersist()
    cut
  }

  /** Multi-probe IVF top-k over learned cells: the corpus side keeps one
    * row per vector (its own nearest cell — one shuffle on `cell`); the
    * probe side explodes to `nprobe` rows (its nprobe nearest cells), so
    * recall lost at cell boundaries is recovered for nprobe x candidate
    * volume. `probeFilter` restricts the probe side (the default
    * `lit(true)` = all-probes self-search); `candFilter` restricts the
    * CANDIDATE side — FILTERED ANN search (top-k among only the vectors
    * matching a metadata predicate, e.g. a label or language tag) with
    * centroids still trained on the full corpus, the shared-index/
    * per-query-predicate shape. The predicate applies before cell
    * assignment, so non-matching vectors never shuffle, and on a
    * persisted layout it would push into the pruned cell scan. */
  def multiProbeNN(
      emb: DataFrame, centroids: Array[Array[Double]], nprobe: Int, k: Int,
      probeFilter: Column = lit(true), candFilter: Column = lit(true)): DataFrame = {
    // persist both sides: cell/cells are expression-DERIVED join keys, and
    // without a materialization barrier the optimizer re-inlines the whole
    // k x dim centroid-distance tree into the join-key filter AND the
    // post-join projections — re-evaluating it per candidate PAIR instead
    // of per vector (measured 10x wall-clock on the self-join)
    val corpus = IvfKMeans.assignCells(emb.where(candFilter), centroids)
      .select(col("vec_id").as("cid"), col("cell"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probes = IvfKMeans.probeCells(emb.where(probeFilter), centroids, nprobe)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"), col("cells"))
      .withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
      .select(col("qid"), col("qv"), col("qnrm"), explode(col("cells")).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sims = corpus.join(probes, Seq("cell"))
      .where(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm"))).as("cos"))
    val topk = sims
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .where(col("rn") <= k)
      .select(col("qid"), col("cid").as("nn_id"), round(col("cos"), 6).as("sim"))
    // materialize the (|probes| x k)-row result with a lineage cut while
    // the inputs are still cached, then release them — library callers
    // inherit neither corpus-sized cached blocks nor an unpersist
    // obligation (checkpoint blocks are freed by the ContextCleaner once
    // the frame is unreferenced).
    val out = Lineage.cut(topk)
    corpus.unpersist()
    probes.unpersist()
    out
  }

  /** Sign-random-projection (SRP) LSH near-dup over dense vectors: the
    * cosine analog of MinHash-LSH. Each vector gets `bits * bands` sign
    * bits from fixed md5-derived ±1 hyperplanes (Charikar's SimHash
    * family — fully deterministic, and replayable from SQL, see
    * [[srpHyperplanes]]),
    * packed into `bands` band values; two vectors become a candidate pair
    * when ANY band matches exactly, and candidates alone are verified with
    * exact cosine >= threshold. P(bit agrees) = 1 - angle/pi, so a pair at
    * cosine c survives with 1-(1-p^bits)^bands — at the defaults and
    * c ~ 0.9 (where text near-dups live) that is 1 - 3e-5, while a random
    * pair (p = 0.5) collides in ~12% of cases: candidate volume drops an
    * order of magnitude and everything else never computes a dot product.
    * (bits, bands) MUST grow with the corpus or random collisions make
    * the candidate join quadratic (expected candidates ~ n^2 * bands /
    * 2^bits — the same fixed-parameter trap as fixed-k IVF, measured at
    * exponent 1.26 on the x10 gate before this was parameterized). The
    * defaults (`bits = 0`) therefore AUTO-SCALE: bits = max(8,
    * ceil(log2(n / 2))) holds expected random-bucket occupancy at ~2
    * regardless of n (a random pair collides with prob bands / 2^bits,
    * so candidates stay ~ n * bands), and bands = ceil(32 * 0.85^(8 -
    * bits)) grows
    * geometrically with the added bits so the per-pair survival
    * probability at cosine ~0.9 (bit-agreement p ~ 0.85) stays at the
    * 8-bit/32-band level (miss < 1e-4, and DETERMINISTIC per corpus —
    * the hyperplanes are seeded, so a verified corpus never flakes).
    * Candidate volume then follows the LSH-theory n^(1+rho) curve
    * instead of n^2. Explicit (bits, bands) override the auto-scaling.
    *
    * Plan shape: hyperplane signatures are one map-side graft_matvec pass
    * (no exchange), band rows are narrow (id, band, value), candidates
    * and the volume guard come from [[CandidatePairs.self]] (one exchange
    * of band rows on (band, value)), and verification touches only
    * candidate vectors (semi-join pruned). Input: (doc_id,
    * v: array<double>); zero-norm rows are dropped (cosine undefined).
    * Output: (doc_a, doc_b, sim) with doc_a < doc_b.
    *
    * CONTRACT — recall is probabilistically bounded, not exact, and the
    * bound is cosine-DEPENDENT: the miss-<1e-4 figure above holds for the
    * near-dup mode (c ≥ ~0.85) the auto-scaling is sized for; a pair AT
    * the decision boundary (c ≈ t = 0.6) has per-band collision
    * probability (1 - acos(c)/π)^bits ≈ 0.6% at the x10 sizing
    * (bits=15, bands=100), i.e. ~55% miss — sizing bands to guarantee
    * boundary recall would need ~1300 bands (13x the signature compute),
    * the wrong trade when the corpus is bimodal (true dups 0.89-1.0,
    * noise < 0.32, measured). tools/SrpCheck measures this: on the
    * round-15 md5-±1 plane family it reads pair-exact at sf0.01, sf0.1
    * AND x10 (2561/2561) — the previous Gaussian draw missed one
    * boundary pair at cosine 0.614 at x10, which is the contract's
    * documented regime, not a defect class the family change removed;
    * a future corpus can still present boundary pairs that miss
    * (tools/SrpMissDiag attributes any miss to band-recall vs
    * hamming-gate). Beyond the banding miss, the
    * hamming prefilter can drop a TRUE banded candidate whose signature
    * hamming exceeds h·acos(t)/π + `hamSigma`·√h. The signature hamming of a pair
    * at cosine exactly t concentrates at h·acos(t)/π with sd ≤ √h/2, so
    * the default slack (3√h) is a ≥ 6σ margin — drop probability < 1e-9
    * per pair, deterministic per corpus (seeded hyperplanes), and pairs
    * ABOVE the threshold sit further below the gate, so their margin is
    * strictly larger. Callers needing the pre-filter exact-verify
    * behavior back can raise `hamSigma` (at h·π/√h ≈ any value ≥
    * (h - h·acos(t)/π)/√h the gate passes everything); auto-scaled `bits`
    * adds one eager count() on the input, skipped when both `bits` and
    * `bands` are explicit. */
  /** The auto-sizing pieces of [[srpNearDup]], exposed so diagnostics
    * (`tools/SrpMissDiag`) recompute signatures from the SAME formulas,
    * seed, and hyperplane family instead of hand-copied constants that
    * could silently desynchronize when the sizing is tuned. */
  def srpAutoBits(n: Long): Int =
    math.max(8, math.ceil(math.log(n / 2.0) / math.log(2.0)).toInt)

  /** Bands for a resolved bit width — see [[srpAutoBits]]. */
  def srpAutoBands(bits: Int): Int =
    math.ceil(32.0 * math.pow(0.85, 8 - bits)).toInt

  /** Hamming-prefilter gate for an h-bit signature at `threshold` —
    * h·acos(t)/π + hamSigma·√h; see the CONTRACT paragraph above. */
  def srpHamMax(h: Int, threshold: Double, hamSigma: Double = 3.0): Int =
    math.ceil(
      h * math.acos(threshold) / math.Pi + hamSigma * math.sqrt(h.toDouble)).toInt

  /** The seeded flat h×dim hyperplane matrix [[srpNearDup]] projects
    * against: deterministic Rademacher (±1) entries derived from md5 —
    * entry (j, d) is +1 iff the low bit of md5("srp:<seed>:<j>:<d>")'s
    * first hex digit is set. ±1 planes are Charikar's original SimHash
    * construction; at dim=128 the sign-agreement probability matches
    * the spherical 1 − θ/π to CLT accuracy, and the recall gates
    * (tools/SrpCheck, re-stamped on this family) measure the realized
    * recall directly. Two properties the previous seeded-Gaussian
    * stream lacked and this round needs: (a) the whole banding is
    * reproducible OUTSIDE the JVM — the DuckDB oracles replay it from
    * the same md5 formula, which is what lets q_hash_embed_neardup and
    * q_semdedup verify at x10 without an all-pairs brute force; (b)
    * with the integer-valued hashed-text embeddings, every projection
    * is an exact integer in double, so sign bits are bit-exact across
    * engines and accumulation orders (a Gaussian replay would risk
    * float-order sign flips at |proj| ≈ ulp). Prefix-stable in h: the
    * first h' rows of srpHyperplanes(h, dim) equal srpHyperplanes(h',
    * dim), since entries depend only on (j, d, seed). */
  def srpHyperplanes(h: Int, dim: Int, seed: Long = 42L): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Double](h * dim)
    var j = 0
    while (j < h) {
      var d = 0
      while (d < dim) {
        md.reset()
        val hash = md.digest(s"srp:$seed:$j:$d".getBytes("UTF-8"))
        // first hex digit = high nibble of byte 0 (what DuckDB's
        // substr(md5(...), 1, 1) parses); its low bit picks the sign
        out(j * dim + d) = if (((hash(0) >> 4) & 1) != 0) 1d else -1d
        d += 1
      }
      j += 1
    }
    out
  }

  def srpNearDup(
      vecs: DataFrame, threshold: Double, dim: Int,
      bits: Int = 0, bands: Int = 0, seed: Long = 42L,
      hamSigma: Double = 3.0): DataFrame = {
    val spark = vecs.sparkSession
    // single-file parquet inputs arrive as ONE partition under the default
    // maxPartitionBytes; the h×dim projection would then run on one core
    // (measured 22 s single-threaded vs 0.7 s spread, x10 gate). Same
    // plan-metadata probe as Dedup.spread (no .rdd lineage instantiation).
    val spreadVecs = Dedup.spread(vecs)
    // nrm is barrier-wrapped so the nrm>0 filter cannot be substituted
    // through this projection down into the (single-task) scan — which
    // would re-evaluate the caller's embedding projection (FeatureHash)
    // below the spread exchange once for the filter and once here
    val prepped = spreadVecs
      .withColumn("nrm",
        graft.functions.PlanBarrier(spark, sqrt(dot(col("v"), col("v")))))
      .where(col("nrm") > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var sigs: DataFrame = null
    try {
      val nBits = if (bits > 0) bits else srpAutoBits(prepped.count())
      val nBands = if (bands > 0) bands else srpAutoBands(nBits)
      val h = nBits * nBands
      val flat = srpHyperplanes(h, dim, seed)
      // band values AND the full packed signature come from ONE projection
      // pass (graft_matvec → graft_sign_bands / graft_pack_signs, all
      // kernels, all inside the scan's codegen span — a transform/aggregate
      // HOF here would re-evaluate the inlined matVec per element access,
      // see [[SignBands]]'s scaladoc) and are cached together: the band
      // rows and the hamming filter both read them.
      val proj = graft.functions.VectorExpressions.matVecConst(
        spark, flat, col("v"), h)
      sigs = prepped
        .withColumn("__proj", proj)
        .select(
          col("doc_id"),
          graft.functions.VectorExpressions.signBands(
            spark, col("__proj"), nBits, nBands).as("bb"),
          graft.functions.VectorExpressions.packSigns(
            spark, col("__proj")).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandRows = sigs.select(col("doc_id"),
        posexplode(col("bb")).as(Seq("band", "key")))
      CandidatePairs.self("srpNearDup", bandRows) { c =>
        // HAMMING PREFILTER: candidates carry only the two h-bit
        // signatures (h/64 longs each — e.g. 24 longs vs 128 doubles +
        // norm), and a popcount gate discards nearly every random
        // collision before any vector is shipped. The gate is
        // h·acos(t)/π + 3√h: the signature hamming of a TRUE pair at
        // cosine exactly t concentrates at h·acos(t)/π with sd ≤ √h/2, so
        // the margin is ≥ 6σ — a drop probability < 1e-9 per pair,
        // deterministic per corpus (seeded hyperplanes), re-verified vs
        // brute force by tools/SrpCheck (see the CONTRACT paragraph
        // above). Exact cosine then touches only survivors (~true pairs),
        // so the expensive verification join runs on thousands of rows,
        // not millions. Each pair-side join broadcasts when the accounted
        // pairs times the side's row width fit the broadcast threshold, so
        // the corpus-sized signature and vector frames stream from cache
        // instead of being shuffled by doc id.
        val hamMax = srpHamMax(h, threshold, hamSigma)
        val sigBytes = 8L * ((h + 63) / 64)
        val vecBytes = 8L * dim + 8L
        val survivors = c.hold(c.broadcastIf(
          c.broadcastIf(c.pairs, CandidatePairs.PairBytes)
            .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a"),
          CandidatePairs.PairBytes + sigBytes)
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
          .where(graft.functions.VectorExpressions.hamming(
            spark, col("sa"), col("sb")) <= hamMax)
          .select("doc_a", "doc_b"))
        val candIds = survivors.select(col("doc_a").as("doc_id"))
          .union(survivors.select(col("doc_b").as("doc_id"))).distinct()
        val vv = prepped.join(broadcast(candIds), Seq("doc_id"), "left_semi")
        val out = c.broadcastIf(
          c.broadcastIf(survivors, CandidatePairs.PairBytes)
            .join(vv.select(col("doc_id").as("doc_a"), col("v").as("va"), col("nrm").as("na")), "doc_a"),
          CandidatePairs.PairBytes + vecBytes)
          .join(vv.select(col("doc_id").as("doc_b"), col("v").as("vb"), col("nrm").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
          .where(col("cos") >= threshold)
          .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("sim"))
        Lineage.cut(out)
      }
    } finally {
      prepped.unpersist()
      if (sigs != null) sigs.unpersist()
      ()
    }
  }

  /** Semantic deduplication (the SemDeDup pattern, Abbas et al. 2023):
    * cluster documents whose EMBEDDINGS are cosine-similar — catching
    * paraphrases and template re-renders that share no n-grams and so
    * slip every lexical dedup — and keep one representative (the min
    * doc_id) per connected component.
    *
    * Composition, not new machinery: candidate pairs come from
    * [[srpNearDup]] (banded sign-random-projection LSH + hamming
    * prefilter + exact cosine verify — the n^(1+rho) scale path, where
    * SemDeDup's original formulation k-means-partitions first for the
    * same candidate-pruning effect), and components resolve through
    * [[Dedup.resolveClusters]] (hybrid driver union-find under the edge
    * bound, distributed min-label fixpoint above it). Works on any
    * (doc_id, v: array<double>) frame — hashing-trick text vectors give
    * an end-to-end SQL-expressible oracle; real model embeddings use the
    * identical plan.
    * Output: (doc_id, cluster_root, keep). */
  def semanticDedup(
      vecs: DataFrame, threshold: Double, dim: Int,
      bits: Int = 0, bands: Int = 0, seed: Long = 42L): DataFrame = {
    val pairs = srpNearDup(vecs, threshold, dim, bits, bands, seed)
    Dedup.resolveClusters(
      vecs.select(col("doc_id")), pairs.select("doc_a", "doc_b"))
  }

  /** Bucketed nearest neighbor: compare only vectors sharing `bucketCol`
    * (IVF with pre-assigned coarse cells). One shuffle on the bucket key.
    * `k` = neighbors kept per vector (rank within bucket).
    *
    * `probeFilter` restricts the QUERY side only — candidates stay the full
    * bucket, so results are exact for every probe. With an unrestricted
    * probe side (`lit(true)`, the self-search calibration form) work is
    * all-pairs within each bucket: O(sum cell^2), quadratic in the corpus
    * when cells grow with it. A fixed probe set makes it O(|probes| *
    * cell) = linear — the shape a 100 TB query must take (measured x10
    * exponent 1.79 uncapped vs ~1 capped; the uncapped form still runs in
    * the calibration harnesses tools/IvfProfile and tools/KmeansRecall). */
  def bucketedNN(
      emb: DataFrame, bucketCol: String, k: Int = 1,
      probeFilter: Column = lit(true)): DataFrame = {
    val p = prepared(emb, Seq(bucketCol))
    val a = p.where(probeFilter)
      .select(col("vec_id"), col(bucketCol), col("v"), col("nrm"))
    val b = p.select(col("vec_id").as("nn_cand"), col(bucketCol).as("__b"),
      col("v").as("bv"), col("nrm").as("bnrm"))
    val sims = a.join(b, col(bucketCol) === col("__b") && col("nn_cand") =!= col("vec_id"))
      .select(col("vec_id"), col(bucketCol), col("nn_cand"),
        (dot(col("v"), col("bv")) / (col("nrm") * col("bnrm"))).as("cos"))
    sims
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nn_cand"))))
      .where(col("rn") <= k)
      .select(col("vec_id"), col(bucketCol), col("nn_cand").as("nn_id"),
        round(col("cos"), 6).as("sim"))
  }
}

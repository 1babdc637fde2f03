package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ext.{Dedup, DedupIndex, Multimodal, PipelineOps, Similarity, SrpIndex}

/** Ops probe for the candidate-volume guard (SURVEY.md §2.9 graceful
  * degradation): runs every guarded pair generator at each given corpus
  * dir with the ceiling forced to 1, so every run aborts in the guard
  * and PRINTS the exact accounted candidate volume plus the hottest
  * buckets — the numbers that size
  * [[Dedup.DefaultMaxCandidatePairs]]'s headroom at each scale, and the
  * first thing to run against a corpus suspected of degenerate
  * duplication density. The six banded operators account through
  * [[graft.ext.CandidatePairs]]: the three self-joins over the corpus,
  * and the three probes with the odd-id half probing the even-id half
  * (the registry's split; the indexes are built with the guard off,
  * since builds generate no pairs). Also prints the free tier-1 bounds
  * (Σ df² and the budgeted hottest-first bound) for the winnow and
  * containment guards: whether a corpus skips the exact tier-2
  * accounting at the default cap is decided by THESE numbers — same
  * helpers as the guards themselves, so the printout cannot diverge
  * from what the operators compute.
  * usage: DedupGuardProbe <sfDir...> */
object DedupGuardProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def unguarded[T](body: => T): T = {
      spark.conf.set(Dedup.MaxCandidatePairsConf, "0")
      try body finally spark.conf.set(Dedup.MaxCandidatePairsConf, "1")
    }
    def tempDir(): String =
      java.nio.file.Files.createTempDirectory("guardprobe_idx").toString
    spark.conf.set(Dedup.MaxCandidatePairsConf, "1")
    args.foreach { dir =>
      val docs = graft.sources.Tables.load(spark, dir, "documents")
      val wdf = Dedup.winnowDocFreq(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      println(f"[guardprobe] $dir winnow tier-1 bound (sum df(df-1)) = " +
        f"${Dedup.tier1Bound(wdf)}%.0f")
      println(f"[guardprobe] $dir winnow tier-1b budgeted bound = " +
        f"${Dedup.winnowBudgetedBound(docs, wdf, 0.7)}%.0f")
      wdf.unpersist()
      val cIdx = PipelineOps.buildContainmentIndex(docs)
      println(f"[guardprobe] $dir containment tier-1 budgeted bound = " +
        f"${PipelineOps.containmentBudgetedBound(cIdx, 0.8)}%.0f")
      cIdx.release()
      val vecs = docs.select(col("doc_id"),
        graft.functions.FeatureHash(spark, col("text"), 128).as("v"))
      val even = col("doc_id") % 2 === 0
      val odd = col("doc_id") % 2 === 1
      val dedupPath = tempDir()
      val srpPath = tempDir()
      try {
        unguarded(DedupIndex.build(docs.where(even), dedupPath))
        val srpIdx = unguarded(SrpIndex.build(vecs.where(even), srpPath, dim = 128))
        for ((op, run) <- Seq[(String, () => Long)](
          "winnowNearDup" -> (() => Dedup.winnowNearDup(docs, 0.7).count()),
          "containmentPairs" -> (() => PipelineOps.containmentPairs(docs, 0.8).count()),
          "minhashNearDup" -> (() => Dedup.minhashNearDup(docs, 0.7).count()),
          "srpNearDup" -> (() => Similarity.srpNearDup(vecs, 0.6, 128).count()),
          "phashNearDup" -> (() =>
            Multimodal.phashNearDup(Multimodal.documentsAsMedia(docs)).count()),
          "minhashNearDupAgainst" -> (() =>
            Dedup.minhashNearDupAgainst(docs.where(even), docs.where(odd), 0.7).count()),
          "dedupIndexSearchAgainst" -> (() => DedupIndex.searchAgainst(
            DedupIndex.load(spark, dedupPath), docs.where(odd), 0.7).count()),
          "srpSearchAgainst" -> (() =>
            SrpIndex.searchAgainst(srpIdx, vecs.where(odd), 0.6).count()))) {
          try {
            run()
            println(s"[guardprobe] $dir $op: UNEXPECTED completion at cap=1")
          } catch {
            case e: Dedup.CandidateVolumeExceeded =>
              println(s"[guardprobe] $dir $op: accounted=${e.totalPairs} " +
                s"top=${e.topBuckets.map { case (k, v) => s"$k:$v" }.mkString(",")}")
          }
        }
      } finally Seq(dedupPath, srpPath).foreach(p =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
    }
    spark.stop()
  }
}

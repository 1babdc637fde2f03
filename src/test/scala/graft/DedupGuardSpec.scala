package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, DedupIndex, Multimodal, PipelineOps, Similarity, SrpIndex}
import graft.sources.Tables

/** Pins the candidate-volume guard (graceful degradation for
  * output-bound dedup): with the ceiling forced low, the pair-generating
  * operators must abort BEFORE their candidate shuffle with an error
  * naming the operator, the accounted volume, the ceiling and the
  * hottest buckets — and must run to an unchanged result when the
  * ceiling is at its default (real corpora sit far under it) or
  * disabled. */
class DedupGuardSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def withCap[T](cap: Option[String])(body: => T): T = {
    cap match {
      case Some(v) => spark.conf.set(Dedup.MaxCandidatePairsConf, v)
      case None => spark.conf.unset(Dedup.MaxCandidatePairsConf)
    }
    try body finally spark.conf.unset(Dedup.MaxCandidatePairsConf)
  }

  private def withTempDir[T](body: String => T): T = {
    val path = java.nio.file.Files.createTempDirectory("dedupguard").toString
    try body(path)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
  }

  private def vecsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.FeatureHash(spark, col("text"), 128).as("v"))

  /** The aggregate functions of every plan `body` executes, the plans
    * that build cached frames included, seen by a QueryExecutionListener.
    * Listener events arrive in order, so once a sentinel query run after
    * `body` has been seen, every query `body` ran has been recorded. */
  private def aggregatesRunBy[T](body: => T): (T, Seq[String]) = {
    val marker = "graft.dedupGuardSpec.sentinel"
    def aggregates(plan: SparkPlan): Seq[String] = planNodes(plan).flatMap {
      case a: BaseAggregateExec => a.aggregateExpressions.map(_.aggregateFunction.prettyName)
      case m: InMemoryTableScanExec => aggregates(m.relation.cachedPlan)
      case _ => Nil
    }
    val seen = new ConcurrentLinkedQueue[String]()
    val sentinel = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.logical.toString.contains(marker)) sentinel.countDown()
        else aggregates(qe.executedPlan).foreach(seen.add)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).select(lit(marker)).collect()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel query never reached the listener")
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("winnowNearDup aborts with the bucket diagnostic when the ceiling " +
      "is exceeded") {
    val docs = Tables.load(spark, sfDir, "documents")
    val e = withCap(Some("10")) {
      intercept[Dedup.CandidateVolumeExceeded] {
        Dedup.winnowNearDup(docs, 0.7).count()
      }
    }
    assert(e.op === "winnowNearDup")
    assert(e.cap === 10L)
    assert(e.totalPairs > 10L)
    assert(e.topBuckets.nonEmpty && e.topBuckets.forall(_._2 > 0))
    // the diagnostic is actionable: conf key to raise, hottest bucket named
    assert(e.getMessage.contains(Dedup.MaxCandidatePairsConf))
    assert(e.getMessage.contains(e.topBuckets.head._1))
  }

  test("minhash, phash and both minhash probes abort naming band/key buckets") {
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    withTempDir { path =>
      DedupIndex.build(corpus, path)
      val idx = DedupIndex.load(spark, path)
      for ((op, run) <- Seq[(String, () => Long)](
        "minhashNearDup" -> (() => Dedup.minhashNearDup(docs, 0.7).count()),
        "phashNearDup" -> (() =>
          Multimodal.phashNearDup(Multimodal.documentsAsMedia(docs)).count()),
        "minhashNearDupAgainst" -> (() =>
          Dedup.minhashNearDupAgainst(corpus, batch, 0.7).count()),
        "dedupIndexSearchAgainst" -> (() =>
          DedupIndex.searchAgainst(idx, batch, 0.7).count()))) {
        val e = withCap(Some("5")) {
          intercept[Dedup.CandidateVolumeExceeded](run())
        }
        assert(e.op === op)
        assert(e.totalPairs > 5L, op)
        assert(e.topBuckets.nonEmpty && e.topBuckets.forall(_._2 > 0), op)
        assert(e.topBuckets.head._1.matches("\\d+/\\w+"),
          s"$op buckets are named band/key: ${e.topBuckets.head._1}")
        assert(e.getMessage.contains(e.topBuckets.head._1), op)
      }
    }
  }

  test("a degenerate corpus trips the guard before any bucket list exists") {
    val copies = 3000L
    val hottest = copies * (copies - 1) / 2
    val docs = spark.range(copies).select(col("id").as("doc_id"),
      lit("the same boilerplate sentence copied across the whole crawl").as("text"))
    val vecs = spark.range(copies).select(col("id").as("doc_id"),
      array((1 to 128).map(i => lit((i % 7 + 1).toDouble)): _*).as("v"))
    for ((op, run) <- Seq[(String, () => Long)](
      "minhashNearDup" -> (() => Dedup.minhashNearDup(docs, 0.7).count()),
      "srpNearDup" -> (() => Similarity.srpNearDup(vecs, 0.6, 128).count()))) {
      val (e, aggregates) = aggregatesRunBy {
        withCap(Some("1000000")) {
          intercept[Dedup.CandidateVolumeExceeded](run())
        }
      }
      assert(aggregates.nonEmpty, s"$op: the listener recorded no plan")
      assert(!aggregates.contains("collect_list"),
        s"$op built per-bucket lists before its guard: ${aggregates.distinct}")
      assert(e.op === op)
      val (bucket, pairs) = e.topBuckets.head
      assert(pairs === hottest, s"$op: every copy shares the hottest bucket")
      assert(bucket.matches("\\d+/-?\\w+"), s"$op bucket is named band/key: $bucket")
      assert(e.getMessage.contains(op) && e.getMessage.contains(bucket))
    }
  }

  test("srpNearDup aborts with the (band, bval) bucket diagnostic — " +
      "covering semanticDedup, which pairs exclusively through it") {
    val docs = Tables.load(spark, sfDir, "documents")
    val vecs = vecsOf(docs)
    val e = withCap(Some("7")) {
      intercept[Dedup.CandidateVolumeExceeded] {
        Similarity.srpNearDup(vecs, 0.6, 128).count()
      }
    }
    assert(e.op === "srpNearDup")
    assert(e.totalPairs > 7L)
    assert(e.topBuckets.head._1.contains("/"),
      "srp buckets are named band/bval")
    assert(e.getMessage.contains(Dedup.MaxCandidatePairsConf))
  }

  test("containmentPairs (self-join) aborts with the hot shingles named") {
    val docs = Tables.load(spark, sfDir, "documents")
    val e = withCap(Some("3")) {
      intercept[Dedup.CandidateVolumeExceeded] {
        PipelineOps.containmentPairs(docs, 0.8).count()
      }
    }
    assert(e.op === "containmentPairs")
    assert(e.totalPairs > 3L)
    assert(e.topBuckets.nonEmpty && e.topBuckets.forall(_._2 > 0))
    assert(e.getMessage.contains(e.topBuckets.head._1))
  }

  test("containmentAgainst (probe path) accounts np·df exactly and aborts") {
    val docs = Tables.load(spark, sfDir, "documents")
    val idx = PipelineOps.buildContainmentIndex(docs)
    try {
      val e = withCap(Some("3")) {
        intercept[Dedup.CandidateVolumeExceeded] {
          PipelineOps.containmentAgainst(idx, docs, 0.8).count()
        }
      }
      assert(e.op === "containmentPairs")
      // probing the corpus against its own index counts the full df
      // fan-out (no self-exclusion: an arrival is not in the index), so
      // the probe volume strictly exceeds the self-join's np·(df-1)
      val selfVol = withCap(Some("3")) {
        intercept[Dedup.CandidateVolumeExceeded] {
          PipelineOps.containmentPairs(docs, 0.8).count()
        }.totalPairs
      }
      assert(e.totalPairs > selfVol)
    } finally idx.release()
  }

  test("the free bounds dominate in order: tier-1 >= budgeted >= exact " +
      "(winnow), and budgeted >= exact (containment)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val wdf = Dedup.winnowDocFreq(docs)
    val t1 = Dedup.tier1Bound(wdf)
    val t1b = Dedup.winnowBudgetedBound(docs, wdf, 0.7)
    val exact = withCap(Some("1")) {
      intercept[Dedup.CandidateVolumeExceeded] {
        Dedup.winnowNearDup(docs, 0.7).count()
      }.totalPairs
    }
    assert(t1 >= t1b, s"tier-1 $t1 must dominate the budgeted bound $t1b")
    assert(t1b >= exact.toDouble,
      s"budgeted bound $t1b must dominate the exact volume $exact")
    val idx = PipelineOps.buildContainmentIndex(docs)
    try {
      val cb = PipelineOps.containmentBudgetedBound(idx, 0.8)
      val cExact = withCap(Some("1")) {
        intercept[Dedup.CandidateVolumeExceeded] {
          PipelineOps.containmentPairs(docs, 0.8).count()
        }.totalPairs
      }
      assert(cb >= cExact.toDouble,
        s"containment budgeted bound $cb must dominate exact $cExact")
    } finally idx.release()
  }

  test("a malformed ceiling conf fails naming the key, not with a bare " +
      "NumberFormatException") {
    val docs = Tables.load(spark, sfDir, "documents")
    val e = withCap(Some("lots")) {
      intercept[IllegalArgumentException] {
        Dedup.winnowNearDup(docs, 0.7).count()
      }
    }
    assert(e.getMessage.contains(Dedup.MaxCandidatePairsConf))
    assert(e.getMessage.contains("lots"))
  }

  test("containment and the six banded operators fall through at the default cap") {
    val docs = Tables.load(spark, sfDir, "documents")
    val vecs = vecsOf(docs)
    val even = col("doc_id") % 2 === 0
    val odd = col("doc_id") % 2 === 1
    withTempDir { dedupPath =>
      withTempDir { srpPath =>
        DedupIndex.build(docs.where(even), dedupPath)
        val dedupIdx = DedupIndex.load(spark, dedupPath)
        val srpIdx = SrpIndex.build(vecsOf(docs.where(even)), srpPath, dim = 128)
        for ((op, run) <- Seq[(String, () => DataFrame)](
          "srpNearDup" -> (() => Similarity.srpNearDup(vecs, 0.6, 128)),
          "containmentPairs" -> (() => PipelineOps.containmentPairs(docs, 0.8)),
          "minhashNearDup" -> (() => Dedup.minhashNearDup(docs, 0.7)),
          "phashNearDup" -> (() =>
            Multimodal.phashNearDup(Multimodal.documentsAsMedia(docs))),
          "minhashNearDupAgainst" -> (() =>
            Dedup.minhashNearDupAgainst(docs.where(even), docs.where(odd), 0.7)),
          "dedupIndexSearchAgainst" -> (() =>
            DedupIndex.searchAgainst(dedupIdx, docs.where(odd), 0.7)),
          "srpSearchAgainst" -> (() =>
            SrpIndex.searchAgainst(srpIdx, vecsOf(docs.where(odd)), 0.6)))) {
          val underDefault = withCap(None)(run().collect().map(_.toSeq).toSet)
          val disabled = withCap(Some("0"))(run().collect().map(_.toSeq).toSet)
          assert(underDefault === disabled, op)
          assert(underDefault.nonEmpty, op)
        }
      }
    }
  }

  test("default and disabled ceilings leave results unchanged") {
    val docs = Tables.load(spark, sfDir, "documents")
    val underDefault = withCap(None) {
      Dedup.winnowNearDup(docs, 0.7).collect().map(_.toSeq).toSet
    }
    val disabled = withCap(Some("0")) {
      Dedup.winnowNearDup(docs, 0.7).collect().map(_.toSeq).toSet
    }
    assert(underDefault === disabled)
    assert(underDefault.nonEmpty)
  }

  test("a tripped tier-1 bound with a passing exact volume proceeds " +
      "with unchanged results (false-trip path)") {
    val docs = Tables.load(spark, sfDir, "documents")
    // soundness invariant the tiered split rests on: bound >= exact;
    // the cap must sit below BOTH free bounds or the guard (correctly)
    // skips tier 2 and the false-trip path is never exercised
    val wdf = Dedup.winnowDocFreq(docs)
    val bound = math.min(
      Dedup.tier1Bound(wdf), Dedup.winnowBudgetedBound(docs, wdf, 0.7))
    val exact = withCap(Some("1")) {
      intercept[Dedup.CandidateVolumeExceeded] {
        Dedup.winnowNearDup(docs, 0.7).count()
      }.totalPairs
    }
    assert(bound >= exact.toDouble,
      s"tier-1 bound $bound must dominate the exact volume $exact")
    // a cap BETWEEN exact and bound trips tier 1 but passes tier 2:
    // the guard must fall through to the join, not abort on the bound.
    // (clamp before toLong: on a degenerate corpus the double bound
    // can exceed Long range, and an unclamped cast would overflow
    // midCap into nonsense instead of failing the precondition below)
    val boundL = math.min(bound, Long.MaxValue.toDouble).toLong
    val midCap = exact + ((boundL - exact) / 2).max(1L)
    assert(midCap > exact && midCap.toDouble < bound,
      s"corpus must separate exact=$exact from bound=$bound to pin this")
    val falseTrip = withCap(Some(midCap.toString)) {
      Dedup.winnowNearDup(docs, 0.7).collect().map(_.toSeq).toSet
    }
    val disabled = withCap(Some("0")) {
      Dedup.winnowNearDup(docs, 0.7).collect().map(_.toSeq).toSet
    }
    assert(falseTrip === disabled)
    assert(falseTrip.nonEmpty)
  }

}

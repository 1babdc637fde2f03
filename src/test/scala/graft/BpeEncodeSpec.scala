package graft

import graft.ext.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BPE encode pass (TextOps.bpeEncode): applying the learned
  * merges to a document's concatenated symbol stream must segment every
  * word exactly as its trained vocabulary row — the no-join word-boundary
  * argument the operator rests on.
  */
class BpeEncodeSpec extends AnyFunSuite with SparkSpec {

  test("Sennrich fixture: document encode matches trained segmentations") {
    import spark.implicits._
    // corpus with the textbook vocabulary {low:5, lower:2, newest:6,
    // widest:3} spread over documents so word streams abut in every order
    val docs = Seq(
      (1L, "low lower newest"),
      (2L, "newest newest widest low"),
      (3L, "widest newest lower low"),
      (4L, "newest newest low widest low"))
      .toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(docs, k = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // trained segmentation sizes (BpeSubwordSpec): low=2 lower=4
    // newest=4 widest=4 symbols; n_subtokens must be the per-doc sum
    assert(enc(1L) === ((3L, 2L + 4L + 4L)))
    assert(enc(2L) === ((4L, 4L + 4L + 4L + 2L)))
    assert(enc(3L) === ((4L, 4L + 4L + 4L + 2L)))
    assert(enc(4L) === ((5L, 4L + 4L + 2L + 4L + 2L)))
  }

  test("merges never span word boundaries: adjacent repeats stay separate") {
    import spark.implicits._
    // vocabulary is just 'ab' — the only merge is a|b. A document of
    // repeated 'ab's must encode each word independently: the pair b|a
    // never forms across the '||' boundary.
    val docs = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, k = 1).collect()(0)
    assert(out.getLong(1) === 3L) // n_tokens
    // each 'ab' -> a_b + </w> = 2 symbols
    assert(out.getLong(2) === 6L) // n_subtokens
  }

  test("encode plan is one map-side pass after the spread: no key exchange, no join") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // training runs its aggregations during construction; the RETURNED
    // frame must be scan -> (round-robin spread) -> project only (merges
    // are plan literals). The spread exchange exists solely to lift a
    // single-row-group local file to core parallelism (no-op at scale)
    // and is the only exchange allowed — any hash/range exchange or join
    // would mean the encode recomputes per-key state.
    // inspect plan NODES through the adaptive root (planNodes), not the
    // plan string: a regex over the string also matches ReusedExchange
    val enc = graft.ext.TextOps.bpeEncode(docs, k = 2)
    val plan = enc.queryExecution.executedPlan.toString()
    val exchanges = nodesOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec](enc)
    assert(exchanges.nonEmpty, s"the spread exchange is missing:\n$plan")
    val keyExchanges = exchanges.filterNot(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(keyExchanges.isEmpty, s"encode plan shuffles on a key:\n$plan")
    assert(nodesOf[org.apache.spark.sql.execution.joins.BaseJoinExec](enc).isEmpty,
      s"encode plan joins:\n$plan")
  }

  test("real docs: per-doc subtoken sum equals the vocabulary-join replay") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val enc = TextOps.bpeEncode(docs, k = 6)
    // independent replay: join each token occurrence to its trained
    // vocabulary segmentation and sum n_syms per doc
    val seg = TextOps.bpeSubwordLoop(docs, k = 6)
      .select(col("word"), col("n_syms"))
    val viaJoin = docs
      .select(col("doc_id"), explode_outer(TextOps.tokens(col("text"))).as("word"))
      .join(seg, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("n_syms"), lit(0L)).as("n_sub_join"))
    val diff = enc.join(viaJoin, "doc_id")
      .where(col("n_subtokens") =!= col("n_sub_join")).count()
    assert(diff === 0L)
    assert(enc.count() === docs.count())
  }
}

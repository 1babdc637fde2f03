package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash-LSH near-duplicate detection over a document stream:
  * each arriving document is banded into LSH buckets (same deterministic
  * md5 hash family as the batch [[graft.ext.Dedup.minhashNearDup]], so the
  * two find identical candidate pairs), and per-bucket state holds the
  * shingle sets of previously seen documents; a new arrival is verified
  * (exact Jaccard) against its bucket's residents and qualifying pairs are
  * emitted immediately.
  *
  * Signatures are computed ROW-LEVEL (array_min over a transform lambda) —
  * the same values the batch min() aggregation produces — so this works as
  * a per-row streaming map with no pre-aggregation.
  *
  * A pair sharing several buckets is emitted once per bucket; dedupe
  * downstream (streaming dropDuplicates on (doc_a, doc_b)) or accept
  * at-least-once pair delivery. State grows with the corpus per bucket;
  * production use bounds it with a TTL or a count cap per bucket.
  */
object StreamingNearDup {

  case class BandedDoc(bucket: String, doc_id: Long, shingles: Array[String])

  case class NearDupPair(doc_a: Long, doc_b: Long, jaccard: Double)

  case class BucketState(docs: List[(Long, Array[String])])

  /** Row-level banding: doc -> (bucket key, shingle set) rows, one per band.
    * Matches the batch operator: tokens `[a-z0-9]+`, 3-gram shingles,
    * sig_i = min of 64-bit hex lane (i%2) of md5(shingle || '#' || i/2)
    * (the batch family — 9 signatures from 5 digests),
    * bucket = band || md5(sigs). */
  def banded(docs: DataFrame, bands: Int = 3, rowsPerBand: Int = 3): DataFrame = {
    val toks = graft.ext.TextOps.tokens(col("text"))
    val shingleArr = graft.ext.TextOps.shingles(col("__toks"))
    val sigCols = (0 until bands * rowsPerBand).map(i =>
      array_min(transform(col("__sh"), x =>
        substring(md5(concat(x, lit("#"), lit((i / 2).toString))), 1 + 16 * (i % 2), 16)))
        .as(s"__sig_$i"))
    val bandCols = (0 until bands).map { b =>
      struct(
        concat(lit(s"$b:"), md5(concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"__sig_${b * rowsPerBand + r}")): _*))).as("bucket"))
    }
    docs
      .withColumn("__toks", toks)
      .withColumn("__sh", array_distinct(shingleArr))
      .select((Seq(col("doc_id"), col("__sh")) ++ sigCols): _*)
      .where(size(col("__sh")) > 0)
      .select(col("doc_id"), col("__sh"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.bucket").as("bucket"), col("doc_id"), col("__sh").as("shingles"))
  }

  private def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val inter = b.count(sa.contains)
    inter.toDouble / (sa.size + b.toSet.size - inter)
  }

  private def onBucket(threshold: Double)(
      bucket: String,
      rows: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[NearDupPair] = {
    var s = state.getOption.getOrElse(BucketState(Nil))
    val out = Seq.newBuilder[NearDupPair]
    rows.toSeq.sortBy(_.doc_id).foreach { d =>
      if (!s.docs.exists(_._1 == d.doc_id)) {
        s.docs.foreach { case (otherId, otherSh) =>
          val j = jaccard(d.shingles, otherSh)
          if (j >= threshold) {
            val (a, b) = if (otherId < d.doc_id) (otherId, d.doc_id) else (d.doc_id, otherId)
            out += NearDupPair(a, b, j)
          }
        }
        s = BucketState((d.doc_id, d.shingles) :: s.docs)
      }
    }
    state.update(s)
    out.result().iterator
  }

  /** docs must be a STREAMING DataFrame with (doc_id: long, text: string). */
  def apply(docs: DataFrame, threshold: Double = 0.7): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    LocalFs.ensure(spark)
    import spark.implicits._
    implicit val stateEnc: Encoder[BucketState] = Encoders.product[BucketState]
    implicit val outEnc: Encoder[NearDupPair] = Encoders.product[NearDupPair]
    banded(docs)
      .as[BandedDoc]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        onBucket(threshold))
  }
}

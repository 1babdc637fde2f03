package graft

import graft.api.Graft
import graft.core.{EventTable, VersionedTable}
import graft.ops.Examples
import graft.plans.PointInTimePassExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass plan of the composed pipeline (graft.plans.PointInTimePass)
  * against the reference composition it replaces: examples from
  * `Examples.generate`, versioned tables from `VersionedTable.fromEvents`,
  * joined by the plain-Scala [[AsOfReference]]. Generated event tables, in
  * the style of AsOfPropertySpec, over a fixed set of seeds. */
class PointInTimePassSpec extends AnyFunSuite with SparkSpec {

  private case class Ev(id: Long, key: Option[String], min: Option[Int], kind: String, v: Option[Long])

  /** Keys a-c take every kind; "q" only errors, so its examples find no
    * purchase or view rows; "h" is the hot key when `hot`. Minutes span
    * 0..`span`, so ties on (key, time) are common. */
  private def evGen(n: Int, span: Int, hot: Boolean): Gen[List[Ev]] = {
    val key = Gen.frequency(
      (if (hot) 30 else 1, Gen.const(Some("h"))),
      (3, Gen.oneOf("a", "b", "c").map(Some(_))),
      (1, Gen.const(Some("q"))),
      (1, Gen.const(None)))
    val row = for {
      k <- key
      t <- Gen.frequency((12, Gen.choose(0, span).map(Some(_))), (1, Gen.const(None)))
      kind <- if (k.contains("q")) Gen.const("error") else Gen.oneOf("error", "purchase", "view")
      v <- Gen.frequency((5, Gen.choose(-3L, 9L).map(Some(_))), (1, Gen.const(None)))
    } yield (k, t, kind, v)
    Gen.listOfN(n, row).map(_.zipWithIndex.map { case ((k, t, kind, v), i) => Ev(i, k, t, kind, v) })
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("k", StringType),
    StructField("ts", TimestampType),
    StructField("kind", StringType),
    StructField("v", LongType)))

  private def toDf(evs: List[Ev]): DataFrame = {
    val rows = evs.map(e => Row(e.id, e.key.orNull,
      e.min.map(m => new java.sql.Timestamp(m * 60000L)).orNull, e.kind, e.v.map(Long.box).orNull))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The pipeline on one event table: examples where the trailing frame
    * holds an error; error sum and count at the prediction time, purchase
    * count(v) at the label time, view sum at the prediction time. */
  private def pipeline(
      df: DataFrame, lookback: Int, delayMin: Int,
      join: (DataFrame, String, VersionedTable) => DataFrame,
      orderCols: Seq[String] = Seq("id")): DataFrame = {
    val ev = EventTable(df, "ts", Some("k"))
    def of(kind: String, aggs: (org.apache.spark.sql.Column, String)*) =
      VersionedTable.fromEvents(ev.where(col("kind") === kind), "k", aggs: _*)
    val ex = Examples.generate(ev,
      windowAgg = count(when(col("kind") === "error", lit(1))),
      lookback = lookback, trigger = _ >= 1,
      labelDelay = s"INTERVAL $delayMin MINUTES", orderCols = orderCols)
    val errs = of("error", sum(col("v")) -> "err_sum", count(lit(1)) -> "err_n")
    val purchases = of("purchase", count(col("v")) -> "pur_n")
    val views = of("view", sum(col("v")) -> "view_sum", count(lit(1)) -> "view_n")
    join(join(join(ex, "_prediction_time", errs), "_label_time", purchases), "_prediction_time", views)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private val g = Graft(spark)
  private val fused = (p: DataFrame, t: String, vt: VersionedTable) => g.pointInTimeJoin(p, t, vt)
  private val reference = (p: DataFrame, t: String, vt: VersionedTable) => AsOfReference(p, "_entity", t, vt)

  // (seed, rows, minute span, hot key, lookback, label delay in minutes);
  // a delay of 10^5 minutes outlasts every table's span
  private val cases = Seq(
    (1L, 60, 20, false, 1, 0),
    (2L, 60, 20, false, 3, 0),
    (3L, 60, 30, false, 1, 7),
    (4L, 80, 12, false, 3, 7),
    (5L, 60, 30, false, 1, 100000),
    (6L, 80, 25, true, 1, 5),
    (7L, 80, 25, true, 3, 100000),
    (8L, 40, 4, false, 1, 2))

  test("the fused pass equals the reference composition on generated tables") {
    for ((seed, n, span, hot, lookback, delay) <- cases) {
      val df = toDf(sample(evGen(n, span, hot), seed))
      val got = pipeline(df, lookback, delay, fused)
      assert(nodesOf[PointInTimePassExec](got).size === 1,
        s"seed=$seed did not fuse:\n${got.queryExecution.executedPlan}")
      val exp = pipeline(df, lookback, delay, reference)
      val (g1, e1) = (rows(got), rows(exp))
      assert(g1.nonEmpty, s"seed=$seed: no examples")
      assert(g1 === e1, s"seed=$seed lookback=$lookback delay=$delay")
    }
  }

  test("a key whose rows spill past the in-memory buffer gives the same answer") {
    // buffers switch to the spillable sorter after 1 row and spill after 2,
    // so every cursor reads rows the iterator reuses
    withConf("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
        "spark.sql.windowExec.buffer.spill.threshold" -> "2") {
      val df = toDf(sample(evGen(80, 25, hot = true), 21L))
      val got = pipeline(df, 3, 5, fused)
      assert(rows(got) === rows(pipeline(df, 3, 5, reference)))
      assert(nodesOf[PointInTimePassExec](got).head.metrics("spillSize").value > 0)
    }
  }

  test("count and sum over an empty prefix are NULL, not 0") {
    val evs = List(
      Ev(0, Some("a"), Some(5), "error", Some(2L)),
      Ev(1, Some("a"), Some(6), "error", Some(3L)),
      Ev(2, Some("a"), Some(9), "purchase", None),
      Ev(3, Some("a"), Some(20), "view", Some(4L)))
    val out = pipeline(toDf(evs), 1, 0, fused)
      .select("_prediction_time", "err_sum", "err_n", "pur_n", "view_sum")
      .orderBy("_prediction_time").collect().map(_.toSeq)
    // examples at 5, 6 and 9 (the frame there still holds an error); a
    // purchase row with a NULL value counts 0, no purchase row is NULL
    assert(out.map(_.drop(1).toList).toList ===
      List(List(2L, 1L, null, null), List(5L, 2L, null, null), List(5L, 2L, 0L, null)))
  }

  test("metrics: input rows, examples, lookups without a value, peak rows per key") {
    val evs = sample(evGen(80, 25, hot = true), 11L)
    val df = pipeline(toDf(evs), 1, 5, fused)
    val out = df.collect()
    val pass = nodesOf[PointInTimePassExec](df).head
    def m(name: String) = pass.metrics(name).value
    assert(m("numInputRows") === evs.size)
    assert(m("numOutputRows") === out.length)
    // one lookup per example and table; the count columns (err_n, pur_n,
    // view_n) are NULL exactly when their table had no row to read
    val missed = out.map(r => Seq(4, 5, 7).count(r.isNullAt)).sum
    assert(missed > 0)
    assert(m("numMissedLookups") === missed)
    val peak = evs.groupBy(_.key).values.map(_.size).max
    assert(m("peakKeyRows") === peak)
  }

  test("one key holds all events: tied and NULL times, spilled and reordered in the walk") {
    // the whole table is one key group past the in-memory buffer, so it
    // is ordered by the walk's external sorter and read back spilled
    val evs = sample(evGen(120, 15, hot = true), 31L).map(_.copy(key = Some("h")))
    val timed = evs.flatMap(_.min)
    assert(timed.size < evs.size, "no NULL time")
    assert(timed.distinct.size < timed.size, "no tied time")
    // the same table with distinct times and no tie order: the sorter's
    // time prefix alone orders it (a radix sort)
    val distinct = evs.zip(new scala.util.Random(31L).shuffle(evs.indices.toList))
      .map { case (e, m) => e.copy(min = if (m == 0) None else Some(m)) }
    withConf("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
        "spark.sql.windowExec.buffer.spill.threshold" -> "2") {
      for ((table, orderCols) <- Seq(evs -> Seq("id"), distinct -> Nil)) {
        val df = toDf(table)
        val got = pipeline(df, 3, 5, fused, orderCols)
        assert(rows(got) === rows(pipeline(df, 3, 5, reference, orderCols)), s"order by $orderCols")
        val pass = nodesOf[PointInTimePassExec](got).head
        def m(name: String) = pass.metrics(name).value
        assert(m("spillSize") > 0)
        assert(m("peakKeyRows") === evs.size)
        assert(m("numReorderedGroups") === 1)
      }
    }
  }

  test("groups that arrive as interleaved time runs are put in time order by the walk") {
    // each key's rows arrive as three runs, each ascending in time and
    // all three overlapping, so no concatenation of them is in order
    val evs = (for {
      run <- 0 until 3
      key <- Seq("a", "b", "c")
      m <- run to 30 by 3
    } yield (key, m)).toList.zipWithIndex.map { case ((key, m), i) =>
      Ev(i, Some(key), Some(m), Seq("error", "purchase", "view")(i % 3), Some(i % 7 - 2L))
    }
    val df = toDf(evs)
    def check(spills: Boolean): Unit = {
      val got = pipeline(df, 1, 4, fused)
      assert(rows(got) === rows(pipeline(df, 1, 4, reference)))
      val pass = nodesOf[PointInTimePassExec](got).head
      assert(pass.metrics("numReorderedGroups").value === 3)
      assert((pass.metrics("spillSize").value > 0) === spills)
    }
    check(spills = false)
    // each 31-row group outgrows an 8-row buffer, before and after its sort
    withConf("spark.sql.windowExec.buffer.in.memory.threshold" -> "8",
        "spark.sql.windowExec.buffer.spill.threshold" -> "16") {
      check(spills = true)
    }
  }
}

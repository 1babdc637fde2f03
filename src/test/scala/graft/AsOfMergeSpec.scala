package graft

import graft.core.{EventTable, VersionedTable}
import graft.ops.AsOfJoin
import graft.plans.AsOfMergeJoinExec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst-native as-of merge join ([[graft.plans.AsOfMergeJoinExec]])
  * must be result-identical to the plain-Scala [[AsOfReference]] on every
  * boundary/joinType combination, NULL handling included, and must compile
  * to the expected plan shape (co-partitioned sort-merge; no shuffle on a
  * pre-partitioned probe side). */
class AsOfMergeSpec extends AnyFunSuite with SparkSpec {

  private def versions(): VersionedTable = {
    import spark.implicits._
    val df = Seq(
      (ts("01:00"), "k1", 10L),
      (ts("02:00"), "k1", 20L),
      (ts("02:00"), "k1", 25L), // duplicate change instant: later row wins
      (ts("03:00"), "k1", 30L),
      (ts("01:30"), "k2", 5L)
    ).toDF("_change_time", "_entity", "v")
    VersionedTable(df, "_entity", "_change_time", Seq("v"))
  }

  private def probes(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, k) => (ts(t), k) }.toDF("t", "k")
  }

  test("asofMerge equals asof on all boundary/joinType combinations") {
    val p = probes(("00:30", "k1"), ("01:00", "k1"), ("02:00", "k1"),
      ("02:30", "k1"), ("04:00", "k1"), ("01:30", "k2"), ("09:00", "zz"))
    // string keys take the generic merge; bigint keys take the unboxed
    // kernel, generated in whole-stage codegen or interpreted without it
    val longKeys = (df: DataFrame, k: String) => df.withColumn(k, xxhash64(col(k)))
    val vt = versions()
    val longVt = vt.copy(df = longKeys(vt.df, "_entity"))
    val shapes = Seq(
      ("string", p, vt, "true"),
      ("bigint", longKeys(p, "k"), longVt, "true"),
      ("bigint interpreted", longKeys(p, "k"), longVt, "false"))
    for ((keys, pk, v, wscg) <- shapes; inc <- Seq(true, false); jt <- Seq("left", "inner"))
      withConf("spark.sql.codegen.wholeStage" -> wscg) {
        val expected = AsOfReference(pk, "k", "t", v, inc, jt).collect().map(_.toSeq).toSet
        val got = AsOfJoin.asofMerge(pk, "k", "t", v, inc, jt).collect().map(_.toSeq).toSet
        assert(got === expected, s"keys=$keys inclusive=$inc joinType=$jt")
      }
  }

  test("duplicate change instants: the later version row wins (inclusive)") {
    for (join <- Seq(AsOfJoin.asofMerge _, AsOfReference.apply _)) {
      val got = join(probes(("02:00", "k1")), "k", "t", versions(), true, "left").collect()
      assert(got.length === 1)
      assert(got.head.getLong(2) === 25L)
    }
  }

  test("NULL-key and NULL-time probes and versions are inert") {
    import spark.implicits._
    val vdf = Seq(
      (Option(ts("01:00")), Option("k1"), 10L),
      (Option(ts("01:00")), Option.empty[String], 99L),
      (Option.empty[java.sql.Timestamp], Option("k1"), 77L)
    ).toDF("_change_time", "_entity", "v")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val p = Seq(
      (Option(ts("02:00")), Option("k1")),
      (Option(ts("02:00")), Option.empty[String]),
      (Option.empty[java.sql.Timestamp], Option("k1")))
      .toDF("t", "k")
    val got = AsOfJoin.asofMerge(p, "k", "t", vt).collect().map(_.toSeq).toSet
    val expected = AsOfReference(p, "k", "t", vt).collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(got === Set(
      Seq(ts("02:00"), "k1", 10L),
      Seq(ts("02:00"), null, null),
      Seq(null, "k1", null)))
    val inner = AsOfJoin.asofMerge(p, "k", "t", vt, joinType = "inner").collect()
    assert(inner.length === 1)
  }

  test("self-as-of (probes and versions from the same source) analyzes cleanly") {
    import spark.implicits._
    val ev = Seq((ts("01:00"), "k1", 1L), (ts("02:00"), "k1", 2L))
      .toDF("ts", "k", "x")
    val vt = VersionedTable.fromEvents(
      EventTable(ev, "ts", Some("k")), "k", sum(col("x")) -> "s")
    val p = ev.select(col("ts").as("t"), col("k"))
    val got = AsOfJoin.asofMerge(p, "k", "t", vt).collect().map(_.toSeq).toSet
    assert(got === Set(Seq(ts("01:00"), "k1", 1L), Seq(ts("02:00"), "k1", 3L)))
  }

  test("asofMerge equals asof on sf0.001 events (real data, three time axes)") {
    val events = EventTable(Tables.events(spark, "/root/testdata/sf0.001"), "ts", Some("user_id"))
    val errors = events.where(col("event_type") === "error")
    val features = VersionedTable.fromEvents(errors, "user_id",
      sum(expr("cast(round(value * 100) as bigint)")) -> "err_cents")
    val p = events.df.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("later"))
    // probes AT the version instants: only the inclusive boundary sees
    // the error that changed the feature at that very instant
    val atVersion = errors.df.select(col("user_id"), col("ts").as("at_version"))
    for ((probes, timeCol) <- Seq((p, "ts"), (p, "later"), (atVersion, "at_version"))) {
      val expected = AsOfReference(probes, "user_id", timeCol, features)
        .collect().map(_.toSeq).toSet
      val got = AsOfJoin.asofMerge(probes, "user_id", timeCol, features)
        .collect().map(_.toSeq).toSet
      assert(got === expected, s"timeCol=$timeCol")
    }
  }

  test("both sides pre-partitioned by key: EnsureRequirements adds NO extra exchange") {
    import org.apache.spark.sql.functions.col
    val p = probes(("02:00", "k1"), ("04:00", "k1")).repartition(col("k"))
    val vdf = versions()
    val vt = graft.core.VersionedTable(
      vdf.df.repartition(col("_entity")), vdf.keyCol, vdf.timeCol, vdf.valueCols)
    val df = AsOfJoin.asofMerge(p, "k", "t", vt)
    val plan = df.queryExecution.executedPlan
    // exactly the two repartition exchanges the caller asked for — the
    // join's distribution requirement is satisfied by both, so a bucketed
    // or pre-shuffled pipeline pays zero additional shuffles
    assert(nodesOf[ShuffleExchangeExec](df).size === 2, plan)
    assert(nodesOf[AsOfMergeJoinExec](df).size === 1, plan)
    assert(df.count() === 2)
  }

  test("DISK-bucketed tables: as-of merge reads both sides with zero exchanges") {
    import org.apache.spark.sql.functions.col
    // persist both sides as bucketed+sorted tables — the layout a 100 TB
    // pipeline would maintain for repeated as-of joins — and verify the
    // join runs with NO Exchange at all: bucketing satisfies the
    // distribution requirement straight off disk.
    val spark0 = spark
    import spark0.implicits._
    val probesDf = Seq((ts("02:00"), 1L, "a"), (ts("04:00"), 1L, "b"), (ts("03:00"), 2L, "c"))
      .toDF("t", "k", "payload")
    val versionsDf = Seq((ts("01:00"), 1L, 10L), (ts("03:30"), 1L, 20L), (ts("01:00"), 2L, 7L))
      .toDF("_change_time", "_entity", "v")
    Seq("graft_bkt_probes", "graft_bkt_versions")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      probesDf.write.bucketBy(4, "k").sortBy("k", "t")
        .mode("overwrite").saveAsTable("graft_bkt_probes")
      versionsDf.write.bucketBy(4, "_entity").sortBy("_entity", "_change_time")
        .mode("overwrite").saveAsTable("graft_bkt_versions")
      val p = spark.table("graft_bkt_probes")
      val vt = graft.core.VersionedTable(
        spark.table("graft_bkt_versions"), "_entity", "_change_time", Seq("v"))
      val df = AsOfJoin.asofMerge(p, "k", "t", vt)
      val plan = df.queryExecution.executedPlan
      assert(nodesOf[ShuffleExchangeExec](df).isEmpty, s"bucketed inputs must not shuffle:\n$plan")
      assert(nodesOf[AsOfMergeJoinExec](df).size === 1, plan)
      val got = df.collect()
        .map(r => (r.getLong(1), r.getTimestamp(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toSet
      assert(got === Set((1L, ts("02:00"), 10L), (1L, ts("04:00"), 20L), (2L, ts("03:00"), 7L)))
    } finally Seq("graft_bkt_probes", "graft_bkt_versions")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("BucketedTables API: save both sides, reload, as-of join with zero exchanges") {
    import org.apache.spark.sql.functions.col
    val spark0 = spark
    import spark0.implicits._
    val probesDf = Seq((ts("02:00"), 1L, "a"), (ts("04:00"), 1L, "b"), (ts("03:00"), 2L, "c"))
      .toDF("t", "k", "payload")
    val versionsDf = Seq((ts("01:00"), 1L, 10L), (ts("03:30"), 1L, 20L), (ts("01:00"), 2L, 7L))
      .toDF("_change_time", "_entity", "v")
    Seq("graft_api_probes", "graft_api_versions")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.sources.BucketedTables.saveForAsOf(probesDf, "graft_api_probes", "k", "t", 4)
      graft.sources.BucketedTables.saveVersioned(
        graft.core.VersionedTable(versionsDf, "_entity", "_change_time", Seq("v")),
        "graft_api_versions", 4)
      val vt = graft.sources.BucketedTables.loadVersioned(spark, "graft_api_versions")
      assert(vt.keyCol === "_entity" && vt.timeCol === "_change_time" &&
        vt.valueCols === Seq("v"))
      val df = AsOfJoin.asofMerge(
        spark.table("graft_api_probes"), "k", "t", vt)
      val plan = df.queryExecution.executedPlan
      assert(nodesOf[ShuffleExchangeExec](df).isEmpty, s"bucketed inputs must not shuffle:\n$plan")
      assert(nodesOf[AsOfMergeJoinExec](df).size === 1, plan)
      val got = df.collect()
        .map(r => (r.getLong(1), r.getTimestamp(0), if (r.isNullAt(3)) -1L else r.getLong(3)))
        .toSet
      assert(got === Set((1L, ts("02:00"), 10L), (1L, ts("04:00"), 20L), (2L, ts("03:00"), 7L)))
    } finally Seq("graft_api_probes", "graft_api_versions")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("string keys on the pre-sorted zero-sort path survive iterator buffer reuse") {
    import spark.implicits._
    // Regression for the held-key bug: when BOTH children arrive already
    // hash-partitioned and (key, time)-sorted, EnsureRequirements inserts
    // no SortExec and the join consumes the alias-project's codegen output
    // directly — a SINGLE reused UnsafeRow buffer. A version key extracted
    // from that live buffer (instead of the copied row) silently mutates to
    // the NEXT key after advance, so every probe whose versions are
    // followed by another key's rows would mis-report as unmatched.
    val n = 60
    val vdf = (0 until n).flatMap { i =>
      val k = f"key_$i%03d"
      Seq((ts("01:00"), k, i * 10L), (ts("02:00"), k, i * 10L + 1))
    }.toDF("_change_time", "_entity", "v")
      .repartition(col("_entity"))
      .sortWithinPartitions("_entity", "_change_time")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val p = (0 until n).map(i => (ts("05:00"), f"key_$i%03d")).toDF("t", "k")
      .repartition(col("k"))
      .sortWithinPartitions("k", "t")
    val df = AsOfJoin.asofMerge(p, "k", "t", vt)
    val got = df.collect().map(r => r.getString(1) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    // the scenario only bites with no re-sort above the version side: the
    // plan that ran holds exactly the caller's two repartition exchanges
    // and two sorts, and nothing the join added
    val plan = df.queryExecution.executedPlan
    assert(nodesOf[ShuffleExchangeExec](df).size === 2, plan)
    assert(nodesOf[SortExec](df).size === 2, s"test precondition broken — a side was re-sorted:\n$plan")
    assert(nodesOf[AsOfMergeJoinExec](df).size === 1, plan)
    (0 until n).foreach { i =>
      assert(got(f"key_$i%03d") === i * 10L + 1, f"probe key_$i%03d lost its version")
    }
  }

  test("key/time type mismatches fail at plan time, not execution time") {
    import spark.implicits._
    val vdf = Seq((ts("01:00"), 1L, 10L)).toDF("_change_time", "_entity", "v")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val p = Seq((ts("02:00"), 1)).toDF("t", "k") // int probe key vs long version key
    val ex = intercept[IllegalArgumentException] {
      AsOfJoin.asofMerge(p, "k", "t", vt)
    }
    assert(ex.getMessage.contains("type mismatch"))
  }

  test("version side is pruned to (key, time, values) — wide columns never reach the join") {
    import spark.implicits._
    val vdf = Seq((ts("01:00"), "k1", 10L, "payload-that-should-be-pruned"))
      .toDF("_change_time", "_entity", "v", "wide_extra")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val df = AsOfJoin.asofMerge(probes(("02:00", "k1")), "k", "t", vt)
    val node = df.queryExecution.analyzed.collect {
      case n: graft.plans.AsOfJoinNode => n
    }.head
    assert(node.right.output.map(_.name).toSet === Set("_entity", "_change_time", "v"),
      s"unexpected version-side width: ${node.right.output}")
    assert(df.collect().map(_.toSeq).toSet === Set(Seq(ts("02:00"), "k1", 10L)))
  }

  test("plan shape: merge exec present; pre-partitioned probe side adds no probe shuffle") {
    val p = probes(("02:00", "k1"), ("04:00", "k1")).repartition(col("k"))
    val df = AsOfJoin.asofMerge(p, "k", "t", versions())
    val plan = df.queryExecution.executedPlan
    assert(nodesOf[AsOfMergeJoinExec](df).size === 1, plan)
    // one exchange for the version side; the probe side reuses its
    // existing hash partitioning (repartition's own exchange)
    assert(nodesOf[ShuffleExchangeExec](df).size === 2,
      s"expected probe repartition + version exchange only:\n$plan")
    assert(df.count() === 2)
  }

  test("long-backed keys run INSIDE whole-stage codegen; string keys fall back") {
    import spark.implicits._
    // AQE collapses codegen stages per-stage at runtime; turn it off so the
    // static plan exposes the stage assignment
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val p = Seq((ts("02:00"), 1L), (ts("04:00"), 2L)).toDF("t", "k")
      val vdf = Seq((ts("01:00"), 1L, 10L), (ts("03:00"), 2L, 20L))
        .toDF("_change_time", "_entity", "v")
      val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
      val df = AsOfJoin.asofMerge(p, "k", "t", vt)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("AsOfMergeJoin") && l.contains("*(")),
        s"long-keyed merge join must be codegen'd:\n$plan")
      assert(df.count() === 2) // and the generated loop actually runs
      // generic (string-key) shape: interpreted doExecute, not starred
      val ps = probes(("02:00", "k1"))
      val planS = AsOfJoin.asofMerge(ps, "k", "t", versions())
        .queryExecution.executedPlan.toString
      assert(planS.linesIterator.exists(l =>
        l.contains("AsOfMergeJoin") && !l.contains("*(")),
        s"string-keyed merge join must fall back to interpreted:\n$planS")
    }
  }
}

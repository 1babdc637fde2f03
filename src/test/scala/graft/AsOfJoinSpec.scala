package graft

import graft.core.{EventTable, VersionedTable}
import graft.ops.AsOfJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-valued as-of cases, each run on the operator users call
  * ([[AsOfJoin.asofMerge]]) and on the plain-Scala [[AsOfReference]], so
  * the expected values also validate the reference the other as-of specs
  * compare against. */
class AsOfJoinSpec extends AnyFunSuite with SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def versions(): VersionedTable = {
    import spark.implicits._
    val df = Seq(
      (ts("01:00"), "k1", 10L),
      (ts("02:00"), "k1", 20L),
      (ts("03:00"), "k1", 30L),
      (ts("01:30"), "k2", 5L)
    ).toDF("_change_time", "_entity", "v")
    VersionedTable(df, "_entity", "_change_time", Seq("v"))
  }

  private def probes(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (t, k) => (ts(t), k) }.toDF("t", "k")
  }

  private def collect(df: DataFrame): Set[(String, String, Option[Long])] =
    df.collect()
      .map(r => (r.getString(1), r.getTimestamp(0).toString.substring(11, 16),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet

  private type AsOf = (DataFrame, String, String, VersionedTable, Boolean, String) => DataFrame

  /** The operator under test, then the reference, by name. */
  private val both: Seq[(String, AsOf)] =
    Seq("asofMerge" -> AsOfJoin.asofMerge _, "AsOfReference" -> AsOfReference.apply _)

  test("inclusive boundary: version at exactly asOf time is visible") {
    for ((name, join) <- both) {
      val got = collect(join(probes(("02:00", "k1")), "k", "t", versions(), true, "left"))
      assert(got === Set(("k1", "02:00", Some(20L))), name)
    }
  }

  test("exclusive variant hides the version at the boundary") {
    for ((name, join) <- both) {
      val got = collect(join(probes(("02:00", "k1")), "k", "t", versions(), false, "left"))
      assert(got === Set(("k1", "02:00", Some(10L))), name)
    }
  }

  test("probe between versions picks the latest preceding one") {
    for ((name, join) <- both) {
      val got = collect(join(probes(("02:30", "k1")), "k", "t", versions(), true, "left"))
      assert(got === Set(("k1", "02:30", Some(20L))), name)
    }
  }

  test("LEFT semantics: probe before any version survives with NULL") {
    for ((name, join) <- both) {
      val got = collect(join(
        probes(("00:30", "k1"), ("00:30", "zz")), "k", "t", versions(), true, "left"))
      assert(got === Set(("k1", "00:30", None), ("zz", "00:30", None)), name)
    }
  }

  test("inner join drops version-less probes") {
    for ((name, join) <- both) {
      val got = collect(join(
        probes(("00:30", "k1"), ("02:00", "k1")), "k", "t", versions(), true, "inner"))
      assert(got === Set(("k1", "02:00", Some(20L))), name)
    }
  }

  test("duplicate probes at the same instant all get the same version") {
    for ((name, join) <- both) {
      val got = join(
        probes(("02:00", "k1"), ("02:00", "k1"), ("04:00", "k1")), "k", "t", versions(), true, "left")
      assert(got.count() === 3, name)
      assert(collect(got) === Set(("k1", "02:00", Some(20L)), ("k1", "04:00", Some(30L))), name)
    }
  }

  test("point-in-time immutability: appending later events never changes asOf") {
    import spark.implicits._
    // events for k1 up to 03:00; appending an event at 05:00 must not
    // change any asOf at t <= 04:00 (the author's invariant, App.java:29-33)
    val base = Seq((ts("01:00"), "k1", 1), (ts("02:00"), "k1", 2), (ts("03:00"), "k1", 3))
    val extended = base :+ ((ts("05:00"), "k1", 100))
    def feats(rows: Seq[(java.sql.Timestamp, String, Int)]) =
      VersionedTable.fromEvents(
        EventTable(rows.toDF("ts", "k", "x"), "ts", Some("k")), "k",
        sum(col("x")) -> "s")
    val p = probes(("01:00", "k1"), ("02:30", "k1"), ("04:00", "k1"))
    for ((name, join) <- both) {
      val a = collect(join(p, "k", "t", feats(base), true, "left"))
      val b = collect(join(p, "k", "t", feats(extended), true, "left"))
      assert(a === b, name)
      assert(a === Set(("k1", "01:00", Some(1L)), ("k1", "02:30", Some(3L)), ("k1", "04:00", Some(6L))), name)
    }
  }

  test("NULL-key / NULL-time version rows never match any probe, on every path") {
    import spark.implicits._
    // SQL equi-join semantics: a NULL join key matches nothing, and a
    // version with no change time is undefined — both rows must be inert.
    val vdf = Seq(
      (Option(ts("01:00")), Option("k1"), 10L),
      (Option(ts("01:00")), Option.empty[String], 99L), // NULL-key version
      (Option.empty[java.sql.Timestamp], Option("k1"), 77L) // NULL-time version
    ).toDF("_change_time", "_entity", "v")
    val vt = VersionedTable(vdf, "_entity", "_change_time", Seq("v"))
    val p = Seq((ts("02:00"), Option("k1")), (ts("02:00"), Option.empty[String]))
      .toDF("t", "k")
    for ((name, join) <- both) {
      val got = join(p, "k", "t", vt, true, "left").collect().map(_.toSeq).toSet
      // k1 sees 10 (not the NULL-time 77); the NULL-key probe survives (LEFT)
      // with NULL values (not the NULL-key version's 99)
      assert(got === Set(
        Seq(ts("02:00"), "k1", 10L),
        Seq(ts("02:00"), null, null)), name)
    }
  }

  test("ties at the same change instant collapse to the full cumulative value") {
    import spark.implicits._
    val events = Seq(
      (ts("01:00"), "k1", 1), (ts("01:00"), "k1", 2), (ts("01:00"), "k1", 4))
      .toDF("ts", "k", "x")
    val vt = VersionedTable.fromEvents(EventTable(events, "ts", Some("k")), "k",
      sum(col("x")) -> "s")
    assert(vt.df.count() === 1)
    for ((name, join) <- both) {
      val got = collect(join(probes(("01:00", "k1")), "k", "t", vt, true, "left")
        .select(col("t"), col("k"), col("s")))
      assert(got === Set(("k1", "01:00", Some(7L))), name)
    }
  }
}

package graft

import graft.api.Graft
import org.scalatest.funsuite.AnyFunSuite

/** Flagship golden test (SURVEY.md §5.2.1): rebuild the reference's fixtures
  * (App.java:102-111, 129-131), run the full pipeline through the public
  * `Graft` API, statement for statement as in its scaladoc — event tables,
  * feature/target versioned tables, example generation, two as-of joins on
  * two different time axes — and assert exactly the two rows the reference
  * records as expected output (App.java:80-81). This pins the inclusive
  * as-of semantics derived in SURVEY.md §2.5.
  */
class GoldenFlagshipSpec extends AnyFunSuite with SparkSpec {

  test("reference pipeline reproduces App.java:80-81 exactly") {
    import spark.implicits._

    val gamePlay = Seq(
      ("02:30", "Alice", 10, true),
      ("02:35", "Bob", 3, false),
      ("03:46", "Bob", 8, false),
      ("03:58", "Bob", 23, true),
      ("04:25", "Bob", 8, true),
      ("05:05", "Alice", 53, true),
      ("05:36", "Alice", 2, false),
      ("07:22", "Bob", 7, false),
      ("08:35", "Alice", 5, false),
      ("10:01", "Alice", 43, true)
    ).map { case (t, u, d, w) => (ts(t), u, d, w) }
      .toDF("ts", "user", "duration", "won")

    val purchase = Seq(("01:02", "Alice"), ("01:35", "Alice"), ("03:51", "Bob"))
      .map { case (t, u) => (ts(t), u) }
      .toDF("ts", "user")

    val g = Graft(spark)
    val games = g.events("GamePlay", gamePlay, time = "ts", key = "user")
    val purchases = g.events("Purchase", purchase, time = "ts", key = "user")

    // Feature query (App.java:47): sum(duration) of lost games per user.
    val features = g.versionedWhere(games, "won = false", "sum(duration)" -> "loss_duration")

    // Target query (App.java:52): count of purchases per user.
    val target = g.versioned(purchases, "count(1)" -> "cnt")

    // Example query (App.java:64-77): both of the last two games lost.
    val examples = g.examples(games,
      windowAgg = "count(nullif(won, true))", lookback = 1,
      trigger = "= 2", labelDelay = "INTERVAL 1 HOUR")

    // Temporal join #1 at _prediction_time (App.java:200-205),
    // then #2 at _label_time (App.java:228-233) — a different time axis,
    // which here is just a parameter (resolves workaround W4).
    val joined = g.pointInTimeJoin(
      g.pointInTimeJoin(examples, "_prediction_time", features),
      "_label_time", target)

    val got = joined
      .select("_entity", "_prediction_time", "_label_time", "loss_duration", "cnt")
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4)))
      .toSet

    val expected = Set(
      ("Bob", ts("03:46"), ts("04:46"), 11L, 1L),
      ("Alice", ts("08:35"), ts("09:35"), 7L, 2L))
    assert(got === expected)
  }
}

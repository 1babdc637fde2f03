package graft

import graft.api.Graft
import graft.core.{EventTable, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY.md §5.2.3) for the as-of join users call
  * (`Graft.pointInTimeJoin`, i.e. `AsOfJoin.asofMerge`), driven by
  * scalacheck generators over random event tables. Each property runs over
  * a fixed set of deterministic seeds (Spark actions are too expensive for
  * hundreds of scalacheck trials). */
class AsOfPropertySpec extends AnyFunSuite with SparkSpec {

  private case class Ev(tsMin: Int, key: String, value: Int)

  private val evGen: Gen[List[Ev]] = Gen.listOfN(
    40,
    for {
      t <- Gen.choose(0, 300)
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-5, 20)
    } yield Ev(t, k, v))

  private val probeGen: Gen[List[(Int, String)]] = Gen.listOfN(
    15,
    for {
      t <- Gen.choose(-10, 320)
      k <- Gen.oneOf("a", "b", "c", "zz")
    } yield (t, k))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def toDf(evs: List[Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (new java.sql.Timestamp(e.tsMin * 60000L), e.key, e.value))
      .toDF("ts", "k", "v")
  }

  private def probesDf(ps: List[(Int, String)]): DataFrame = {
    import spark.implicits._
    ps.map(p => (new java.sql.Timestamp(p._1 * 60000L), p._2)).toDF("t", "pk")
  }

  private def features(evs: List[Ev]): VersionedTable =
    VersionedTable.fromEvents(
      EventTable(toDf(evs), "ts", Some("k")), "k", sum(col("v")) -> "s")

  private val g = Graft(spark)

  private def asof(probes: DataFrame, vt: VersionedTable, inclusive: Boolean = true): DataFrame =
    g.pointInTimeJoin(probes, "t", vt, probeKey = "pk", inclusive = inclusive)

  private def asofResult(evs: List[Ev], ps: List[(Int, String)]): Set[Seq[Any]] =
    asof(probesDf(ps), features(evs)).collect().map(_.toSeq).toSet

  private val seeds = 1L to 6L

  test("point-in-time immutability: appending strictly-later events never changes asOf") {
    for (seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val tMax = ps.map(_._1).max
      val later = sample(evGen, seed + 200).map(e => e.copy(tsMin = tMax + 1 + e.tsMin))
      assert(asofResult(evs, ps) === asofResult(evs ++ later, ps),
        s"seed=$seed: later events changed an earlier asOf")
    }
  }

  test("no temporal leakage: asOf(k, t) equals the feature query on the prefix ts <= t") {
    for (seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val got = asof(probesDf(ps), features(evs))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toSet
      // oracle: per probe, recompute the aggregate on the prefix
      val exp = ps.map { case (t, k) =>
        val prefix = evs.filter(e => e.key == k && e.tsMin <= t)
        (new java.sql.Timestamp(t * 60000L), k,
          if (prefix.isEmpty) None else Some(prefix.map(_.value.toLong).sum))
      }.toSet
      assert(got === exp, s"seed=$seed")
    }
  }

  test("order insensitivity: shuffling input row order never changes results") {
    for (seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val shuffled = new scala.util.Random(seed).shuffle(evs)
      assert(asofResult(evs, ps) === asofResult(shuffled, ps), s"seed=$seed")
    }
  }

  test("inclusive/exclusive boundary relation: exclusive == inclusive at t - epsilon") {
    for (seed <- seeds) {
      val evs = sample(evGen, seed)
      val ps = sample(probeGen, seed + 100)
      val exclusive = asof(probesDf(ps), features(evs), inclusive = false)
        .collect().map(r => (r.getString(1), r.getTimestamp(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      // shift probes back one microsecond and use inclusive semantics
      import spark.implicits._
      val shifted = ps.map(p => (new java.sql.Timestamp(p._1 * 60000L - 1L), p._2, p._1))
        .toDF("t", "pk", "orig")
      val viaShift = asof(shifted, features(evs))
        .collect().map(r => (r.getString(1),
          new java.sql.Timestamp(r.getInt(2) * 60000L),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
      assert(exclusive === viaShift, s"seed=$seed")
    }
  }
}

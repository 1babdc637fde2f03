package graft.ops

import graft.core.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Event-time as-of join — the engine's flagship primitive, replacing the
  * reference's `FOR SYSTEM_TIME AS OF` temporal joins (App.java:200-205 and
  * 228-233). Each left ("probe") row at (key, asOfTime) is joined to the
  * latest version of the right table whose change time is <= asOfTime
  * (inclusive — normative semantics derived in SURVEY.md §2.5 from the
  * reference's golden output at App.java:80-81). LEFT semantics: a probe
  * with no version yet yields NULL values, not a dropped row
  * (App.java:204,231).
  *
  * The as-of time is a per-call *parameter* rather than stream metadata, so
  * the reference's event-time re-assignment workaround (App.java:207-225)
  * disappears: join #2 on a different time axis is just a second call.
  *
  * Algorithm (union-merge): tag version rows and probe rows, union them,
  * and run a single running `last(value, ignoreNulls)` window partitioned by
  * key and ordered by (time, side). Versions sort before probes at the same
  * instant, giving inclusive semantics; flip the side order for exclusive.
  *
  * Scale rationale: exactly ONE shuffle (by key) and one per-partition sort
  * over |probes| + |versions| rows — no join explosion, no per-probe-row
  * row_number repartition, and no broadcast requirement. At 100 TB this is
  * the canonical merge formulation: cost is a sort-shuffle of both inputs,
  * identical asymptotics to a sort-merge join, and it is skew-tolerant via
  * AQE because the heavy key's rows still form a single sorted run.
  */
object AsOfJoin {

  /** @param left       probe rows (any schema)
    * @param leftKey    probe join key column
    * @param asOfTime   probe column holding the as-of instant
    * @param right      versioned table supplying values
    * @param inclusive  version at exactly asOfTime visible? (reference: yes)
    * @param joinType   "left" (NULL values when no version) or "inner"
    * @param nullKeyBypass  route NULL-key probes around the shuffle (they
    *                   can only ever produce NULL values). All NULL keys
    *                   hash to ONE partition — at scale a few percent of
    *                   null keys becomes a straggler; the bypass trades a
    *                   second (IsNull/IsNotNull-pushed) scan of the probe
    *                   side for eliminating it.
    */
  def asof(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left",
      nullKeyBypass: Boolean = false): DataFrame = {
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    if (nullKeyBypass) {
      val merged = asofImpl(left.where(col(leftKey).isNotNull), leftKey, asOfTime,
        right, inclusive, joinType)
      if (joinType == "inner") return merged // NULL-key probes never match
      val valueType = right.df.select(struct(right.valueCols.map(col): _*))
        .schema.head.dataType
      val nullRows = left.where(col(leftKey).isNull)
        .withColumn("__asof", lit(null).cast(valueType))
        .select((left.columns.map(col) ++
          right.valueCols.map(c => col("__asof").getField(c).as(c))).toSeq: _*)
      return merged.unionByName(nullRows)
    }
    asofImpl(left, leftKey, asOfTime, right, inclusive, joinType)
  }

  private def asofImpl(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean,
      joinType: String): DataFrame = {
    val overlap = right.valueCols.toSet.intersect(left.columns.toSet)
    require(overlap.isEmpty, s"value columns collide with probe columns: $overlap")

    val probeSide = if (inclusive) 1 else 0 // versions first at equal t <=> inclusive
    val verSide = 1 - probeSide

    val valueStruct = struct(right.valueCols.map(col): _*)
    val valueType = right.df.select(valueStruct).schema.head.dataType
    val probeStruct = struct(left.columns.toIndexedSeq.map(col): _*)
    val probeType = left.select(probeStruct).schema.head.dataType

    val probes = left.select(
      col(leftKey).as("__k"),
      col(asOfTime).as("__t"),
      lit(probeSide).as("__side"),
      probeStruct.as("__probe"),
      lit(null).cast(valueType).as("__val"))
    // SQL equality-join semantics: NULL keys never match, so NULL-key (or
    // NULL-time) version rows must not feed NULL-key probes — without this
    // filter Window.partitionBy(__k) would group them together and a
    // NULL-key probe could pick up a NULL-key version's values, diverging
    // from the reference's LEFT JOIN ... ON a.k = b.k and from the
    // nullKeyBypass/asofBroadcast paths. NULL-key probes still flow through
    // (their partition now holds no versions → NULL values, as required).
    val versions = right.df
      .where(col(right.keyCol).isNotNull && col(right.timeCol).isNotNull)
      .select(
        col(right.keyCol).as("__k"),
        col(right.timeCol).as("__t"),
        lit(verSide).as("__side"),
        lit(null).cast(probeType).as("__probe"),
        valueStruct.as("__val"))

    val w = Window
      .partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val merged = probes
      .unionByName(versions)
      .withColumn("__asof", last(col("__val"), ignoreNulls = true).over(w))
      .where(col("__side") === probeSide && col("__probe").isNotNull)

    val kept = if (joinType == "inner") merged.where(col("__asof").isNotNull) else merged
    val outCols =
      left.columns.map(c => col("__probe").getField(c).as(c)) ++
        right.valueCols.map(c => col("__asof").getField(c).as(c))
    kept.select(outCols.toSeq: _*)
  }

  /** Skew-proof formulation: HOT keys (a bot entity with millions of
    * probes) straggle the one partition that `Window.partitionBy(key)`
    * hashes them to. Salting splits each key's PROBES across `salts`
    * partitions — deterministically, by hashing the full probe row — while
    * the key's VERSION HISTORY replicates to all of them, so every salted
    * partition still answers its probes exactly. Cost: versions x salts
    * (versions are the small side; features change rarely relative to
    * probe volume), bought back as an upper bound of probes/salts per
    * partition per key. Results are identical to [[asof]] (pinned in
    * AsOfJoinSpec). NULL-key probes take the bypass union (a struct salt
    * key would otherwise defeat SQL NULL-equality semantics). */
  def asofSalted(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      salts: Int,
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame = {
    require(salts >= 1, s"salts=$salts")
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    if (salts == 1) return asof(left, leftKey, asOfTime, right, inclusive, joinType)
    val SALT = "__graft_salt"
    val SK = "__graft_sk"
    val nonNull = left.where(col(leftKey).isNotNull)
    val p = nonNull
      .withColumn(SALT,
        pmod(xxhash64(nonNull.columns.toIndexedSeq.map(col): _*),
          lit(salts.toLong)).cast("int"))
      .withColumn(SK, struct(col(leftKey).as("k"), col(SALT).as("s")))
    val v = right.df
      .where(col(right.keyCol).isNotNull && col(right.timeCol).isNotNull)
      .withColumn(SALT, explode(array((0 until salts).map(i => lit(i)): _*)))
      .withColumn(SK, struct(col(right.keyCol).as("k"), col(SALT).as("s")))
    val vt = VersionedTable(v, SK, right.timeCol, right.valueCols)
    val merged = asofImpl(p, SK, asOfTime, vt, inclusive, joinType)
      .drop(SALT, SK)
    if (joinType == "inner") merged
    else {
      val valueType = right.df.select(struct(right.valueCols.map(col): _*))
        .schema.head.dataType
      val nullRows = left.where(col(leftKey).isNull)
        .withColumn("__asof", lit(null).cast(valueType))
        .select((left.columns.map(col) ++
          right.valueCols.map(c => col("__asof").getField(c).as(c))).toSeq: _*)
      merged.unionByName(nullRows)
    }
  }

  /** Catalyst-native formulation: plans a [[graft.plans.AsOfJoinNode]] that
    * the injected strategy compiles to [[graft.plans.AsOfMergeJoinExec]] —
    * hash co-partitioning + per-key (key, time) sort come from
    * EnsureRequirements (so bucketed/pre-partitioned inputs skip the
    * shuffle entirely, and AQE manages skew), and the join itself is a
    * two-pointer merge per partition. Same semantics as [[asof]] (pinned in
    * AsOfMergeSpec). When the probes are [[Examples.generate]] output and
    * the versioned table is a [[VersionedTable.fromEvents]] table of the
    * same source, [[graft.plans.PointInTimeRule]] plans the join (and the
    * chain it extends) as one [[graft.plans.PointInTimePass]] instead
    * (pinned in PointInTimePassSpec). */
  def asofMerge(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left"): DataFrame = {
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    val overlap = right.valueCols.toSet.intersect(left.columns.toSet)
    require(overlap.isEmpty, s"value columns collide with probe columns: $overlap")
    val spark = left.sparkSession
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val resolver = spark.sessionState.analyzer.resolver
    def attr(out: Seq[Attribute], name: String): Attribute =
      out.find(a => resolver(a.name, name)).getOrElse(sys.error(s"no column $name"))
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds on the version side: probes and versions often derive
    // from the SAME source (self-as-of), which would otherwise alias.
    // Prune to exactly (key, time, values) while we're at it — the node's
    // `references` claims its whole right child, so Catalyst's generic
    // column pruning can't narrow a wide versioned table for us.
    val rAnalyzed = right.df.queryExecution.analyzed
    val needed = (Seq(right.keyCol, right.timeCol) ++ right.valueCols).distinct
    val aliases = needed.map { n => val a = attr(rAnalyzed.output, n); Alias(a, a.name)() }
    val rPlan = Project(aliases, rAnalyzed)
    val rOut = aliases.map(_.toAttribute)
    val lk = attr(lPlan.output, leftKey)
    val lt = attr(lPlan.output, asOfTime)
    val rk = attr(rOut, right.keyCol)
    val rt = attr(rOut, right.timeCol)
    // fail at plan time, not as a ClassCastException inside the merge ordering
    require(lk.dataType == rk.dataType,
      s"as-of key type mismatch: $leftKey is ${lk.dataType}, ${right.keyCol} is ${rk.dataType}")
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: $asOfTime is ${lt.dataType}, ${right.timeCol} is ${rt.dataType}")
    val node = graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      lk, lt, rk, rt,
      right.valueCols.map(attr(rOut, _)),
      inclusive, joinType == "inner")
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, graft.plans.GraftPlanner.plan(spark, node))
  }

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Broadcast as-of join: when the versioned table is small (dimension-
    * sized feature tables against petabytes of probes), collect it once,
    * broadcast per-key time-sorted arrays, and answer each probe with a
    * binary search inside a mapPartitions pass — ZERO shuffle of the probe
    * side, no sort, preserving the probes' partitioning for downstream
    * operators. Same semantics as [[asof]] (verified equal in tests).
    *
    * @param maxRows guard against collecting an unexpectedly large table */
  def asofBroadcast(
      left: DataFrame,
      leftKey: String,
      asOfTime: String,
      right: VersionedTable,
      inclusive: Boolean = true,
      joinType: String = "left",
      maxRows: Long = 2000000L): DataFrame = {
    require(Seq("left", "inner").contains(joinType), s"joinType=$joinType")
    val spark = left.sparkSession
    val nVals = right.valueCols.size

    val versionRows = right.df
      .select((Seq(col(right.keyCol), col(right.timeCol)) ++ right.valueCols.map(col)): _*)
      .limit((maxRows + 1).toInt)
      .collect()
    require(versionRows.length <= maxRows,
      s"versioned table exceeds asofBroadcast maxRows=$maxRows; use asof()")

    val byKey: Map[Any, (Array[Long], Array[Array[Any]])] = versionRows
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(_.get(0))
      .map { case (k, rows) =>
        val sorted = rows.sortBy(r => toMicros(r.getTimestamp(1)))
        (k, (sorted.map(r => toMicros(r.getTimestamp(1))),
          sorted.map(r => Array.tabulate[Any](nVals)(i => r.get(i + 2)))))
      }
    val bc = spark.sparkContext.broadcast(byKey)

    val keyIdx = left.schema.fieldIndex(leftKey)
    val timeIdx = left.schema.fieldIndex(asOfTime)
    val inclusiveFlag = inclusive
    val inner = joinType == "inner"
    val nullValues = Array.fill[Any](nVals)(null)

    val valueFields = {
      val bySchema = right.df.schema
      right.valueCols.map(c => bySchema(bySchema.fieldIndex(c)).copy(nullable = true))
    }
    val outSchema = org.apache.spark.sql.types.StructType(left.schema.fields ++ valueFields)

    val rdd = left.rdd.mapPartitions { rows =>
      val m = bc.value
      rows.flatMap { r =>
        val vals: Array[Any] =
          if (r.isNullAt(keyIdx) || r.isNullAt(timeIdx)) nullValues
          else m.get(r.get(keyIdx)) match {
            case None => nullValues
            case Some((times, values)) =>
              val t = toMicros(r.getAs[java.sql.Timestamp](timeIdx))
              // rightmost index with times(i) <= t (inclusive) / < t
              var lo = 0; var hi = times.length - 1; var ans = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                val ok = if (inclusiveFlag) times(mid) <= t else times(mid) < t
                if (ok) { ans = mid; lo = mid + 1 } else hi = mid - 1
              }
              if (ans >= 0) values(ans) else nullValues
          }
        if (inner && (vals eq nullValues)) Iterator.empty
        else Iterator.single(org.apache.spark.sql.Row.fromSeq(r.toSeq ++ vals))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}

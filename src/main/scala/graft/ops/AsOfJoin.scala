package graft.ops

import graft.core.VersionedTable
import org.apache.spark.sql.DataFrame

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
  */
object AsOfJoin {

  /** Plans a [[graft.plans.AsOfJoinNode]] that the injected strategy
    * compiles to [[graft.plans.AsOfMergeJoinExec]]: hash co-partitioning and
    * the per-key (key, time) sort come from EnsureRequirements (so bucketed
    * or pre-partitioned inputs skip the shuffle), and the join is a
    * two-pointer merge per partition. SQL equi-join NULL semantics: a NULL
    * key or time matches nothing. When the probes are [[Examples.generate]]
    * output and the versioned table is a [[VersionedTable.fromEvents]] table
    * of the same source, [[graft.plans.PointInTimeRule]] plans the join (and
    * the chain it extends) as one [[graft.plans.PointInTimePass]] instead.
    * Pinned against a plain-Scala reference in AsOfMergeSpec and
    * PointInTimePassSpec.
    *
    * @param left       probe rows (any schema)
    * @param leftKey    probe join key column
    * @param asOfTime   probe column holding the as-of instant
    * @param right      versioned table supplying values
    * @param inclusive  version at exactly asOfTime visible? (reference: yes)
    * @param joinType   "left" (NULL values when no version) or "inner"
    */
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
}

package graft

import graft.api.Graft
import graft.core.EventTable
import graft.plans.{AsOfMergeJoinExec, PointInTimePass, PointInTimePassExec}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the properties that make the engine viable at
  * 100 TB must hold structurally, not accidentally: parquet filter pushdown,
  * column pruning, broadcast of small dimensions, and the as-of join's
  * single-shuffle guarantee. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planString(name: String): String = {
    val df = graft.queries.Registry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_expr pushes its predicates into the parquet scan") {
    val df = graft.queries.Registry.queries("q_filter_expr")(spark, sfDir)
    val pushed = df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_discount,0.07)"), pushed)
    assert(pushed.contains("LessThan(l_quantity,10.0)"), pushed)
  }

  test("q_token_stats prunes unused document columns from the scan") {
    val p = planString("q_token_stats")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text"))
    assert(!readSchema.contains("doc_id"), readSchema)
    assert(!readSchema.contains("source"), readSchema)
  }

  test("q_top_customers broadcasts the customer dimension") {
    val p = planString("q_top_customers")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_nation_revenue broadcasts nation and region") {
    val p = planString("q_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("planNodes sees through the adaptive root, before and after execution") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(100).repartition(3, col("id")).selectExpr("id + 1 AS x")
    val root = df.queryExecution.executedPlan
    assert(root.isInstanceOf[AdaptiveSparkPlanExec], root.toString)
    // a plain collect stops at the adaptive root, a leaf
    assert(root.collect { case e: ShuffleExchangeExec => e }.isEmpty)
    assert(nodesOf[ShuffleExchangeExec](df).size === 1, root.toString)
    df.collect() // final plan: the exchange now sits inside a query stage
    assert(nodesOf[ShuffleExchangeExec](df).size === 1,
      df.queryExecution.executedPlan.toString)
  }

  // ---- the paper's pipeline through the public API ---------------------

  private def flagshipPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.take(4000)

  test("fused flagship pipeline is a single shuffle of the events table") {
    // q_flagship is the public-API pipeline; the pass makes it one scan,
    // one shuffle, one sort and one walk per key
    val df = graft.queries.Registry.queries("q_flagship")(spark, sfDir)
    val plan = flagshipPlan(df)
    assert(nodesOf[ShuffleExchangeExec](df).size === 1, plan)
    assert(nodesOf[SortExec](df).size === 1, plan)
    // on the pass key alone: the walk orders each key's rows in time
    assert(nodesOf[SortExec](df).head.sortOrder.size === 1, plan)
    assert(nodesOf[FileSourceScanExec](df).size === 1, plan)
    assert(nodesOf[PointInTimePassExec](df).size === 1, plan)
    assert(nodesOf[WindowExec](df).isEmpty, plan)
    assert(nodesOf[AsOfMergeJoinExec](df).isEmpty, plan)
  }

  /** events -> examples -> as-of joins on error cents and purchases. */
  private def pipeline(
      events: EventTable, purchasesFrom: EventTable, inclusive: Boolean) = {
    val g = Graft(spark)
    val err = g.versionedWhere(events, "event_type = 'error'",
      "sum(cast(round(value * 100) as bigint))" -> "err_cents")
    val pur = g.versionedWhere(purchasesFrom, "event_type = 'purchase'", "count(1)" -> "purchases")
    val ex = g.examples(events, "count(case when event_type = 'error' then 1 end)",
      lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR", orderCols = Seq("event_id"))
    g.pointInTimeJoin(g.pointInTimeJoin(ex, "_prediction_time", err, inclusive = inclusive),
      "_label_time", pur, inclusive = inclusive)
  }

  private def keepsComposedPlan(df: org.apache.spark.sql.DataFrame, merges: Int): Unit = {
    val plan = flagshipPlan(df)
    assert(nodesOf[AsOfMergeJoinExec](df).size === merges, plan)
    assert(nodesOf[WindowExec](df).nonEmpty, plan)
  }

  test("an exclusive as-of keeps the composed plan, one exchange per window") {
    val ev = EventTable(graft.sources.Tables.events(spark, sfDir), "ts", Some("user_id"))
    val df = pipeline(ev, ev, inclusive = false)
    keepsComposedPlan(df, merges = 2)
    assert(nodesOf[PointInTimePassExec](df).isEmpty, flagshipPlan(df))
    // examples, error cents, purchases: one window pass each; the dedup
    // and both merges reuse the versioned tables' exchanges
    assert(nodesOf[WindowExec](df).size === 3, flagshipPlan(df))
    assert(nodesOf[ShuffleExchangeExec](df).size === 3, flagshipPlan(df))
  }

  test("versioned tables the pass cannot read keep their merge") {
    // two sources of one shape and different rows
    val events = graft.sources.Tables.events(spark, sfDir)
    def local(n: Int) = spark.createDataFrame(events.limit(n).collectAsList(), events.schema)
    val ev = EventTable(local(300), "ts", Some("user_id"))
    val other = EventTable(local(200), "ts", Some("user_id"))
    val df = pipeline(ev, other, inclusive = true)
    // the first join (same source) fuses; the second stays a merge
    keepsComposedPlan(df, merges = 1)
    assert(nodesOf[PointInTimePassExec](df).size === 1, flagshipPlan(df))
    // an imperative aggregate has no declarative buffer to run
    val g = Graft(spark)
    val ex = g.examples(ev, "count(case when event_type = 'error' then 1 end)",
      lookback = 1, trigger = "= 2", labelDelay = "INTERVAL 1 HOUR")
    val lists = g.versionedWhere(ev, "event_type = 'error'", "collect_list(value)" -> "values")
    val listed = g.pointInTimeJoin(ex, "_prediction_time", lists)
    keepsComposedPlan(listed, merges = 1)
    assert(nodesOf[PointInTimePassExec](listed).isEmpty, flagshipPlan(listed))
  }

  test("a streaming frame keeps the composed plan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import graft.plans.AsOfJoinNode
    import graft.streaming.StreamingFlagship.StreamEvent
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[StreamEvent].toDF()
    val ev = EventTable(stream, "ts", Some("user_id"))
    val df = pipeline(ev, ev, inclusive = true)
    // a streaming frame cannot be planned outside writeStream, so this
    // checks the logical operators the rule would have replaced
    val plan = df.queryExecution.analyzed
    assert(df.isStreaming)
    assert(plan.collect { case j: AsOfJoinNode => j }.size === 2, plan.treeString)
    assert(plan.collect { case w: Window => w }.size === 3, plan.treeString)
    assert(plan.collect { case p: PointInTimePass => p }.isEmpty, plan.treeString)
  }

  test("q_range_join plans the user_id equality as the join key (SMJ/SHJ, not NL)") {
    val p = planString("q_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q_sample prunes to the filter + projection columns only") {
    val p = planString("q_sample")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text")) // md5 filter input
    assert(!readSchema.contains("source"), readSchema)
  }

  test("q_sq8_rerank: kernels stay native expressions, probes broadcast, scan pruned") {
    val df = graft.queries.Registry.queries("q_sq8_rerank")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the quantized scorer runs as the native expression (not a UDF shim)
    assert(plan.contains("graft_sq8_dot("), plan.take(2000))
    assert(plan.contains("graft_sq8_encode("), plan.take(2000))
    // the tiny probe side broadcasts; the corpus never shuffles pre-top-k
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("label"), readSchema)
  }

  test("IVF cell assignment and OPQ rotation are exchange-free map-side passes") {
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val centroids = graft.ext.IvfKMeans.trainCentroids(emb, k = 8, sampleN = 256)
    val assigned = graft.ext.IvfKMeans.assignCells(emb, centroids)
    val aPlan = assigned.queryExecution.executedPlan
    assert(aPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty, aPlan.toString.take(2000))
    assert(aPlan.toString.contains("graft_ivf_cell"), "kernel expression not in plan")

    val opq = graft.ext.Opq.train(emb, sampleN = 256)
    val rotated = emb.select(col("vec_id"),
      graft.ext.Opq.rotate(opq, col("embedding").cast("array<double>")).as("rv"))
    val rPlan = rotated.queryExecution.executedPlan
    assert(rPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty, rPlan.toString.take(2000))
    // "*(n)" marks a WholeStageCodegen span in the simple plan string
    assert(rPlan.toString.contains("*(1) Project"), "rotation fell out of codegen: " +
      rPlan.toString.take(500))
  }

  test("IVF x PQ encode keeps the corpus map-side (codes, not vectors, shuffle later)") {
    val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val model = graft.ext.IvfPq.train(emb, kCells = 8, sampleN = 256)
    val encoded = graft.ext.IvfPq.encode(emb, model)
    val plan = encoded.queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "encode must not shuffle: " + plan.toString.take(2000))
    val s = plan.toString
    assert(s.contains("graft_pq_encode") && s.contains("graft_ivf_cell"), s.take(2000))
  }

  test("q_trigram_lm scoring is map-side: membership kernel in the plan, " +
      "no join in the scoring query, scan pruned to (doc_id, text)") {
    val df = graft.queries.Registry.queries("q_trigram_lm")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    // scoring = scan -> project(kernel) -> filter; the model build ran
    // eagerly in separate bounded actions, so the SCORING plan must have
    // no join and no aggregate
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, "scoring must not join: " + plan.toString.take(1500))
    val s = plan.toString
    assert(s.contains("graft_set_hits"), s.take(1500))
    assert(s.contains("graft_char_ngrams"), s.take(1500))
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
  }

  test("q_repetition_chars is a pure projection: zero exchanges, kernel " +
      "inside the scan's codegen span, scan pruned to (doc_id, text)") {
    val df = graft.queries.Registry.queries("q_repetition_chars")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    // the only exchange allowed is the round-robin spread that lifts a
    // single-row-group local scan to core parallelism (no-op at scale);
    // any KEY exchange would mean the kernel stopped being per-row
    assert(plan.collect { case e: ShuffleExchangeExec
        if !e.outputPartitioning.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] => e
      }.isEmpty,
      "repetition signals must not shuffle on a key: " + plan.toString.take(2000))
    val s = plan.toString
    // exactly ONE kernel evaluation: the PlanBarrier wrapper must keep
    // the isNotNull filter from substituting a second
    // graft_repetition_stats call below the exchange into the scan
    assert("graft_repetition_stats".r.findAllIn(s).size === 1,
      "kernel evaluated more than once: " + s.take(2000))
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      readSchema)
    // codegen check needs the POST-execution adaptive plan (the pre-
    // execution AdaptiveSparkPlan string carries no WholeStageCodegen
    // spans); collect() executes THIS df's own QueryExecution (a write
    // would plan a fresh one and leave this plan un-finalized)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("),
      "kernel fell out of codegen: " + executed.take(1500))
  }
}

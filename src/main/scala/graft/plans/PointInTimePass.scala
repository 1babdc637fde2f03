package graft.plans

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Filter, LogicalPlan, Project, UnaryNode, Window}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{ExternalAppendOnlyUnsafeRowArray, SortPrefixUtils, SparkPlan, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{CalendarIntervalType, DataType, DateType, DayTimeIntervalType, DoubleType, IntegerType, LongType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.CalendarInterval

/** The composed point-in-time pipeline as ONE sorted pass per key.
  *
  * The reference program is one pipeline: an OVER window over an event
  * stream generates examples, and temporal joins read versioned aggregates
  * of the same stream as of each example's prediction and label time.
  * Built from graft's primitives ([[graft.ops.Examples.generate]],
  * [[graft.core.VersionedTable.fromEvents]], [[graft.ops.AsOfJoin.asofMerge]])
  * that is a window pass per table plus an as-of merge per feature — one
  * scan, exchange and sort each. When every table derives from one keyed
  * source, all of it is a function of that key's rows in time order, so
  * [[PointInTimeRule]] replaces the chain with this node: one exchange on
  * the key, one sort on the key alone, one walk per key.
  *
  * The walk buffers one key's rows and puts them in (time, ties) order
  * itself: a key's rows usually arrive in order, and sorting on the key
  * alone lets that sort use a radix sort on the key instead of comparing
  * (key, time, ties) row by row. A group is buffered, spilling the way
  * `WindowExec` buffers a partition group, and only a group that arrives
  * out of order goes through an external sorter. One cursor evaluates the
  * example trigger over the trailing ROWS frame; for each feature table
  * a second cursor folds the rows its `where` admits into a running
  * aggregate buffer, advancing to the example's own time plus the
  * feature's constant offset (inclusive).
  * A feature reads NULL until a qualifying row with a time lies at or
  * before that instant — exactly the LEFT as-of join over the versioned
  * table, where no version row means NULL (so `count` over nothing is
  * NULL, not 0). Aggregates run through Catalyst's `DeclarativeAggregate`
  * expressions and generated projections.
  *
  * `condition` (the trigger) and `examples` (the example columns, named
  * `exampleAttrs`) are over the child's columns, with any aggregate
  * function in them evaluated over the key's trailing ROWS frame of
  * `lookback + 1` rows. Feature `i` admits the rows `wheres(i)` accepts and
  * is read at the example's `time` plus `offsets(i)` microseconds; its
  * `values(i)` (named `valueAttrs(i)`) are expressions over aggregate
  * functions only, evaluated over the admitted rows up to that instant.
  * `key` and `time` are child columns; `time` is a long-backed timestamp.
  */
case class PointInTimePass(
    key: Attribute,
    time: Attribute,
    ties: Seq[SortOrder],
    lookback: Int,
    condition: Expression,
    examples: Seq[Expression],
    exampleAttrs: Seq[Attribute],
    wheres: Seq[Expression],
    offsets: Seq[Long],
    values: Seq[Seq[Expression]],
    valueAttrs: Seq[Seq[Attribute]],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = PointInTimePass.outputOf(exampleAttrs, valueAttrs)

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): PointInTimePass =
    copy(child = newChild)
}

object PointInTimePass {
  def outputOf(exampleAttrs: Seq[Attribute], valueAttrs: Seq[Seq[Attribute]]): Seq[Attribute] =
    exampleAttrs ++ valueAttrs.flatten.map(_.withNullability(true))
}

/** Plans `Graft.examples` → `versionedWhere` → `pointInTimeJoin` chains
  * onto [[PointInTimePass]]. An as-of join fuses only when all hold:
  *
  *  - the probes are an examples table: a single declarative aggregate
  *    over a trailing ROWS frame partitioned by one key and ordered by a
  *    timestamp (then tie columns), filtered and projected;
  *  - the versioned table is a RANGE-cumulative window of declarative
  *    aggregates over the same source (the examples' own filters plus a
  *    `where`), with the same key and time, optionally deduplicated;
  *  - the join matches the probe key to the version key, its as-of time is
  *    the probe's time plus a literal, and it is an inclusive LEFT join;
  *  - nothing is streaming and every expression is deterministic.
  *
  * Every other shape keeps its plan. The rule reads the ANALYZED shapes
  * the builders produce, so [[GraftPlanner.plan]] applies it where
  * [[graft.ops.AsOfJoin.asofMerge]] builds each join, in every session
  * (an optimizer-injected rule would run after Catalyst has collapsed and
  * pushed the very projections and filters the match depends on). Joins
  * fuse bottom-up: the first turns the examples into a pass, each further
  * join on the pass adds one feature to it. */
object PointInTimeRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case j: AsOfJoinNode => fuse(j).getOrElse(j) }

  private def fuse(j: AsOfJoinNode): Option[LogicalPlan] =
    if (!j.inclusive || j.inner || j.isStreaming) None
    else {
      val spec = j.left match {
        case p: PointInTimePass => Spec.of(p)
        case l => examplesSpec(l)
      }
      spec.flatMap(withFeature(_, j)).map(_.toPlan)
    }

  // ---- flattening Project/Filter chains --------------------------------

  private def strip(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }

  /** A chain of Project and Filter nodes, flattened onto `root`, the first
    * node below it that is neither: each output attribute of the chain's
    * top as an expression over `root.output`, and every filter likewise. */
  private case class Flat(root: LogicalPlan, defs: AttributeMap[Expression], conds: Seq[Expression]) {
    def sub(e: Expression): Expression = e.transformUp { case a: Attribute => defs.getOrElse(a, a) }
  }

  private def flatten(plan: LogicalPlan): Option[Flat] = plan match {
    case Project(list, child) =>
      if (!list.forall(_.deterministic)) None
      else flatten(child).map(f => f.copy(defs = AttributeMap(list.map(ne => ne.toAttribute -> f.sub(strip(ne))))))
    case Filter(cond, child) =>
      if (!cond.deterministic) None
      else flatten(child).map(f => f.copy(conds = f.conds ++ splitConjunctivePredicates(f.sub(cond))))
    case other => Some(Flat(other, AttributeMap(other.output.map(a => a -> a)), Nil))
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => other :: Nil
  }

  // ---- the pass at source level ------------------------------------------

  /** A [[PointInTimePass]] with every expression over `root.output`, the
    * first non-Project/Filter node of the source; `conds` filter the source
    * for every cursor. Named columns are aliases carrying their ids. */
  private case class Spec(
      root: LogicalPlan,
      conds: Seq[Expression],
      key: Expression,
      time: Expression,
      ties: Seq[SortOrder],
      lookback: Int,
      condition: Expression,
      examples: Seq[NamedExpression],
      wheres: Seq[Expression] = Nil,
      offsets: Seq[Long] = Nil,
      values: Seq[Seq[NamedExpression]] = Nil) {

    /** The node over `Project(needed columns, Filter(conds, root))`; a key
      * or time that is not a plain column is computed once there. */
    def toPlan: PointInTimePass = {
      def named(e: Expression, n: String): NamedExpression = e match {
        case a: Attribute => a
        case other => Alias(other, n)()
      }
      val k = named(key, "_pit_key")
      val t = named(time, "_pit_time")
      def norm[E <: Expression](e: E): E = e.transformDown {
        case x if x.semanticEquals(key) => k.toAttribute
        case x if x.semanticEquals(time) => t.toAttribute
      }.asInstanceOf[E]
      val nTies = ties.map(norm)
      val nCondition = norm(condition)
      val nExamples = examples.map(e => norm(strip(e)))
      val nWheres = wheres.map(norm)
      val nValues = values.map(_.map(v => norm(strip(v))))
      val base = conds.reduceOption(And).map(Filter(_, root)).getOrElse(root)
      val used = AttributeSet((nTies ++ (nCondition +: nExamples) ++ nWheres ++ nValues.flatten)
        .flatMap(_.references))
      val columns = base.output.filter(a => used.contains(a) || a == k || a == t)
      val computed = Seq(k, t).collect { case a: Alias => a }
      PointInTimePass(k.toAttribute, t.toAttribute, nTies, lookback, nCondition,
        nExamples, examples.map(_.toAttribute), nWheres, offsets,
        nValues, values.map(_.map(_.toAttribute)), Project(columns ++ computed, base))
    }
  }

  private object Spec {
    /** Back to source level: undo the pass's child projection. */
    def of(p: PointInTimePass): Option[Spec] = p.child match {
      case Project(list, base) =>
        val defs = AttributeMap(list.map(ne => ne.toAttribute -> strip(ne)))
        def un[E <: Expression](e: E): E =
          e.transformUp { case a: Attribute => defs.getOrElse(a, a) }.asInstanceOf[E]
        def named(e: Expression, a: Attribute): NamedExpression = Alias(un(e), a.name)(a.exprId)
        val (root, conds) = base match {
          case Filter(c, r) => (r, splitConjunctivePredicates(c))
          case r => (r, Nil)
        }
        Some(Spec(root, conds, un(p.key), un(p.time), p.ties.map(un), p.lookback,
          un(p.condition), p.examples.zip(p.exampleAttrs).map((named _).tupled),
          p.wheres.map(un), p.offsets,
          p.values.zip(p.valueAttrs).map { case (vs, as) => vs.zip(as).map((named _).tupled) }))
      case _ => None
    }
  }

  private def longTime(e: Expression): Boolean = e.dataType match {
    case TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The single window aggregate: (declarative function, frame). */
  private def windowAgg(ne: NamedExpression): Option[(DeclarativeAggregate, WindowFrame)] = ne match {
    case Alias(WindowExpression(ae: AggregateExpression, spec), _)
        if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty && ae.deterministic =>
      ae.aggregateFunction match {
        case f: DeclarativeAggregate => Some((f, spec.frameSpecification))
        case _ => None
      }
    case _ => None
  }

  private def ascNullsFirst(o: SortOrder): Boolean =
    o.direction == Ascending && o.nullOrdering == NullsFirst

  /** Decode `Examples.generate`: Project/Filter chain over a Window with
    * one ROWS-frame aggregate, over a Project/Filter chain over the root. */
  private def examplesSpec(plan: LogicalPlan): Option[Spec] = for {
    up <- flatten(plan)
    w <- Some(up.root).collect { case w: Window => w }
    if w.windowExpressions.size == 1 && w.partitionSpec.size == 1 && w.orderSpec.nonEmpty &&
      w.orderSpec.forall(ascNullsFirst)
    (fn, frame) <- windowAgg(w.windowExpressions.head)
    lookback <- frame match {
      case SpecifiedWindowFrame(RowFrame, lower, CurrentRow)
          if lower.foldable && lower.dataType == IntegerType &&
            lower.eval().asInstanceOf[Int] <= 0 => Some(-lower.eval().asInstanceOf[Int])
      case _ => None
    }
    lo <- flatten(w.child)
    if !lo.root.isStreaming
    key = lo.sub(w.partitionSpec.head)
    time = lo.sub(w.orderSpec.head.child)
    if longTime(time) && key.deterministic && time.deterministic
  } yield {
    // above the window: its passthrough columns are source expressions,
    // its aggregate column is the aggregate itself, over the ROWS frame
    val agg = AttributeMap(Seq(w.windowExpressions.head.toAttribute -> lo.sub(fn)))
    def above(e: Expression): Expression =
      lo.sub(up.sub(e)).transformUp { case a: Attribute => agg.getOrElse(a, a) }
    Spec(
      root = lo.root,
      conds = lo.conds,
      key = key,
      time = time,
      ties = w.orderSpec.tail.map(o => lo.sub(o).asInstanceOf[SortOrder]),
      lookback = lookback,
      condition = up.conds.map(above).reduceOption(And).getOrElse(Literal.TrueLiteral),
      examples = plan.output.map(a => Alias(above(a), a.name)(a.exprId)))
  }

  /** Offset of `e` from `time` when `e` is `time` plus a constant
    * (day-time literal, or a calendar literal without months or days). */
  private def offsetOf(e: Expression, time: Expression): Option[Long] = e match {
    case x if x.semanticEquals(time) => Some(0L)
    case c: Cast if c.dataType == c.child.dataType => offsetOf(c.child, time)
    case TimestampAddInterval(start, iv, _) if iv.foldable =>
      val delta: Option[Long] = (iv.dataType, iv.eval()) match {
        case (_: DayTimeIntervalType, v: java.lang.Long) => Some(v.longValue)
        case (CalendarIntervalType, v: CalendarInterval) if v.months == 0 && v.days == 0 =>
          Some(v.microseconds)
        case _ => None
      }
      for (d <- delta; o <- offsetOf(start, time)) yield o + d
    case _ => None
  }

  /** Add the join's versioned table to `s` as a feature, or None. */
  private def withFeature(s: Spec, j: AsOfJoinNode): Option[Spec] = {
    val exDefs = s.examples.map(e => e.exprId -> strip(e)).toMap
    for {
      keyDef <- exDefs.get(j.leftKey.exprId) if keyDef.semanticEquals(s.key)
      timeDef <- exDefs.get(j.leftTime.exprId)
      offset <- offsetOf(timeDef, s.time)
      (w, toW, dedup) <- versionsWindow(j.right)
      if w.partitionSpec.size == 1 && w.orderSpec.size == 1 && ascNullsFirst(w.orderSpec.head)
      fns <- Some(w.windowExpressions.map(windowAgg))
      if fns.forall(_.exists(_._2 == SpecifiedWindowFrame(RangeFrame, UnboundedPreceding, CurrentRow)))
      lo <- flatten(w.child)
      rebind <- sameSource(lo.root, s.root)
      down = (e: Expression) => rebind(lo.sub(e))
      if down(w.partitionSpec.head).semanticEquals(s.key) &&
        down(w.orderSpec.head.child).semanticEquals(s.time) &&
        down(toW(j.rightKey)).semanticEquals(s.key) &&
        down(toW(j.rightTime)).semanticEquals(s.time) &&
        dedup.forall(_.map(k => down(k).canonicalized).toSet ==
          Set(s.key.canonicalized, s.time.canonicalized))
      conds = lo.conds.map(rebind)
      if s.conds.forall(c => conds.exists(_.semanticEquals(c)))
      valueDefs = j.rightValues.map(toW)
      windowAttrs = AttributeSet(w.windowExpressions.map(_.toAttribute))
      if valueDefs.forall(_.references.subsetOf(windowAttrs))
    } yield {
      // each window column becomes its aggregate, over the feature's rows
      val agg = AttributeMap(w.windowExpressions.zip(fns.flatten).map { case (ne, (fn, _)) =>
        ne.toAttribute -> down(fn)
      })
      val where = conds.filterNot(c => s.conds.exists(_.semanticEquals(c)))
      s.copy(
        wheres = s.wheres :+ where.reduceOption(And).getOrElse(Literal.TrueLiteral),
        offsets = s.offsets :+ offset,
        values = s.values :+ j.rightValues.zip(valueDefs).map { case (v, d) =>
          Alias(d.transformUp { case a: Attribute => agg.getOrElse(a, a) }, v.name)(v.exprId)
        })
    }
  }

  /** The versioned table's window, a map from the table's columns to the
    * window's output, and the keys of an optional dedup between them (over
    * the window's output). */
  private def versionsWindow(
      plan: LogicalPlan): Option[(Window, Expression => Expression, Option[Seq[Expression]])] =
    flatten(plan).filter(_.conds.isEmpty).flatMap { top =>
      top.root match {
        case w: Window => Some((w, top.sub _, None))
        case Deduplicate(keys, child) =>
          flatten(child).filter(_.conds.isEmpty).flatMap { mid =>
            mid.root match {
              case w: Window =>
                Some((w, (e: Expression) => mid.sub(top.sub(e)), Some(keys.map(mid.sub))))
              case _ => None
            }
          }
        case _ => None
      }
    }

  /** Map from `other`'s columns onto `root`'s when both compute the same
    * rows (the same plan object, or a re-analysed / re-read copy). */
  private def sameSource(other: LogicalPlan, root: LogicalPlan): Option[Expression => Expression] =
    if (other.isStreaming) None
    else if (other eq root) Some(identity)
    else if (other.output.size == root.output.size && other.sameResult(root)) {
      val m = AttributeMap(other.output.zip(root.output))
      Some(_.transformUp { case a: Attribute => m.getOrElse(a, a) })
    } else None
}

/** Physical [[PointInTimePass]]: hash-clustered and sorted on the key
  * alone by EnsureRequirements, then one walk per key group. The walk
  * reads each group into a [[PointInTimePassExec.KeyGroup]], which puts
  * the group's rows in (time NULLS FIRST, ties) order when they do not
  * arrive so.
  *
  * Metrics: input rows, examples emitted, feature lookups that found no
  * value, the peak number of rows buffered for one key, spill size, the
  * key groups the walk had to reorder and the time it spent doing so. */
case class PointInTimePassExec(
    key: Attribute,
    time: Attribute,
    ties: Seq[SortOrder],
    lookback: Int,
    condition: Expression,
    examples: Seq[Expression],
    exampleAttrs: Seq[Attribute],
    wheres: Seq[Expression],
    offsets: Seq[Long],
    values: Seq[Seq[Expression]],
    valueAttrs: Seq[Seq[Attribute]],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = PointInTimePass.outputOf(exampleAttrs, valueAttrs)

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(key, Ascending)))

  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of examples"),
    "numMissedLookups" -> SQLMetrics.createMetric(sparkContext, "feature lookups with no value"),
    "peakKeyRows" -> org.apache.spark.sql.GraftSqlBridge.maxMetric(
      sparkContext, "peak rows buffered for one key"),
    "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
    "numReorderedGroups" -> SQLMetrics.createMetric(sparkContext, "key groups reordered in the walk"),
    "reorderTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "walk reorder time"))

  override protected def withNewChildInternal(newChild: SparkPlan): PointInTimePassExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    import PointInTimePassExec._
    val in = child.output
    val keyE = key
    val timeE = time
    val tiesE = ties
    val tIdx = in.indexWhere(_.exprId == time.exprId)
    val frame = lookback + 1
    val conditionE = condition
    val examplesE = examples
    val features = wheres.indices.map(i => (wheres(i), offsets(i), values(i)))
    val valueOut = valueAttrs.flatten.map(_.withNullability(true))
    val conf = this.conf
    val inMemory = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    val radix = conf.enableRadixSort
    val numIn = longMetric("numInputRows")
    val numOut = longMetric("numOutputRows")
    val numMissed = longMetric("numMissedLookups")
    val peakRows = longMetric("peakKeyRows")
    val spill = longMetric("spillSize")
    val reordered = longMetric("numReorderedGroups")
    val reorderTime = longMetric("reorderTime")

    child.execute().mapPartitionsWithIndex { (part, input) =>
      val keyProj = UnsafeProjection.create(Seq(keyE), in)
      val toUnsafe = UnsafeProjection.create(in, in)
      val joined = new JoinedRow

      // the trigger: fold the trailing frame, evaluate, test
      val frameAggs = new Aggs(conditionE +: examplesE, in)
      val cond = Predicate.create(frameAggs.bind(conditionE), in ++ frameAggs.results)
      cond.initialize(part)
      val extra = new SpecificInternalRow((frameAggs.results ++ valueOut).map(_.dataType))
      val outProj = UnsafeProjection.create(
        examplesE.map(frameAggs.bind) ++ valueOut, in ++ frameAggs.results ++ valueOut)
      outProj.initialize(part)

      val cursors = features.map { case (where, offset, fValues) =>
        new Cursor(where, offset, fValues, in, tIdx, part)
      }.toArray

      val group = new KeyGroup(in, timeE, tiesE, inMemory, spillRows, spillBytes, radix,
        spill, reordered, reorderTime)
      val ring = new Array[UnsafeRow](frame)

      new Iterator[InternalRow] {
        private var nextRow: UnsafeRow = _
        private var nextGroup: UnsafeRow = _
        private var nextRowAvailable = false
        private var keyNull = false
        private var rows: Iterator[UnsafeRow] = Iterator.empty
        private var seen = 0 // rows of the current key walked so far
        private var pending: InternalRow = _
        private var peak = 0L

        private def fetchNextRow(): Unit = {
          nextRowAvailable = input.hasNext
          if (nextRowAvailable) {
            nextRow = input.next() match {
              case u: UnsafeRow => u
              case r => toUnsafe(r)
            }
            nextGroup = keyProj(nextRow)
          }
        }
        fetchNextRow()

        private def fetchNextGroup(): Unit = {
          val currentGroup = nextGroup.copy()
          group.clear()
          while (nextRowAvailable && nextGroup == currentGroup) {
            group.add(nextRow)
            fetchNextRow()
          }
          group.finish()
          numIn += group.length
          if (group.length > peak) peak = group.length
          keyNull = currentGroup.isNullAt(0)
          rows = group.rows()
          seen = 0
          if (!keyNull) cursors.foreach(_.reset(group.rows()))
        }

        /** Walk one row: slide the frame, evaluate the trigger, and on a
          * hit read every feature as of the example's instant. */
        private def step(row: UnsafeRow): Unit = {
          val slot = seen % frame
          if (ring(slot) == null) ring(slot) = row.copy() else ring(slot).copyFrom(row)
          seen += 1
          frameAggs.init()
          var k = math.max(0, seen - frame)
          while (k < seen) { frameAggs.update(ring(k % frame)); k += 1 }
          val aggRow = frameAggs.eval()
          if (cond.eval(joined(row, aggRow))) {
            var slot = frameAggs.copyTo(aggRow, extra)
            val tNull = row.isNullAt(tIdx)
            var c = 0
            while (c < cursors.length) {
              val cur = cursors(c)
              val hit = !keyNull && !tNull && cur.advance(Math.addExact(row.getLong(tIdx), cur.offset))
              if (!hit) numMissed += 1
              slot = cur.fill(extra, slot, hit)
              c += 1
            }
            numOut += 1
            pending = outProj(joined(row, extra))
          }
        }

        override def hasNext: Boolean = {
          while (pending == null) {
            if (rows.hasNext) step(rows.next())
            else if (nextRowAvailable) fetchNextGroup()
            else {
              group.clear()
              if (peak > peakRows.value) peakRows.set(peak)
              return false
            }
          }
          true
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
    }
  }
}

object PointInTimePassExec {

  /** One key's rows, put in (time NULLS FIRST, ties) order. Rows are
    * held in the spillable `ExternalAppendOnlyUnsafeRowArray` (thresholds
    * are the `windowExec` buffer's), and each added row is compared with
    * the one before it, so a group that arrives in order is never sorted.
    * `finish` runs an out-of-order group through an `UnsafeExternalRowSorter`
    * on (time, ties) and refills the buffer with its output. The sorter's
    * prefix is the time, so it radix-sorts (when `radix` allows) if there
    * are no ties, and it spills: a key of any size never has to fit in heap.
    *
    * `clear` starts a group, `add` takes each row in arrival order,
    * `finish` orders the group; `rows` then gives any number of passes.
    * It reports bytes spilled to `spill`, and each group it had to order to
    * `reordered` and the nanoseconds spent doing so to `reorderTime`. */
  final class KeyGroup(in: Seq[Attribute], time: Attribute, ties: Seq[SortOrder],
      inMemory: Int, spillRows: Int, spillBytes: Long, radix: Boolean,
      spill: SQLMetric, reordered: SQLMetric, reorderTime: SQLMetric) {
    private val tIdx = in.indexWhere(_.exprId == time.exprId)
    private val tieOrder = if (ties.isEmpty) null else RowOrdering.create(ties, in)
    private val buffer = new ExternalAppendOnlyUnsafeRowArray(
      inMemory, spillBytes, spillRows, spillBytes)
    private var last: UnsafeRow = _ // copy of the previous row
    private var inOrder = true

    def length: Int = buffer.length

    def clear(): Unit = {
      spill += buffer.spillSize
      buffer.clear()
      inOrder = true
    }

    def add(row: UnsafeRow): Unit = {
      if (buffer.isEmpty) { if (last == null) last = row.copy() else last.copyFrom(row) }
      else if (inOrder) {
        if (after(last, row)) inOrder = false else last.copyFrom(row)
      }
      buffer.add(row)
    }

    /** `a` sorts after `b`: time NULLS FIRST, then the ties. */
    private def after(a: UnsafeRow, b: UnsafeRow): Boolean = {
      val c =
        if (a.isNullAt(tIdx)) { if (b.isNullAt(tIdx)) 0 else -1 }
        else if (b.isNullAt(tIdx)) 1
        else java.lang.Long.compare(a.getLong(tIdx), b.getLong(tIdx))
      c > 0 || (c == 0 && tieOrder != null && tieOrder.compare(a, b) > 0)
    }

    /** Put the group in order, unless it arrived so. */
    def finish(): Unit = if (!inOrder) {
      val t0 = System.nanoTime()
      val task = TaskContext.get().taskMetrics()
      val spilled0 = task.memoryBytesSpilled - buffer.spillSize
      val sorter = newSorter()
      val it = buffer.generateIterator()
      while (it.hasNext) sorter.insertRow(it.next())
      val bufferSpilled = buffer.spillSize
      clear()
      val sorted = sorter.sort()
      while (sorted.hasNext) buffer.add(sorted.next().asInstanceOf[UnsafeRow])
      // the sorter's own spill: the task's since `spilled0`, less the buffer's
      spill += task.memoryBytesSpilled - spilled0 - bufferSpilled - buffer.spillSize
      reordered += 1
      reorderTime += System.nanoTime() - t0
    }

    /** A fresh pass over the group's rows, in order. */
    def rows(): Iterator[UnsafeRow] = buffer.generateIterator()

    private lazy val sortOn = BindReferences.bindReference(SortOrder(time, Ascending), in)
    private lazy val rowOrdering = RowOrdering.create(SortOrder(time, Ascending) +: ties, in)
    private lazy val schema = DataTypeUtils.fromAttributes(in)

    private def newSorter(): UnsafeExternalRowSorter = {
      val prefix = SortPrefix(sortOn)
      val prefixProj = UnsafeProjection.create(Seq(prefix))
      val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
        private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          val p = prefixProj(row)
          result.isNull = p.isNullAt(0)
          result.value = if (result.isNull) prefix.nullValue else p.getLong(0)
          result
        }
      }
      UnsafeExternalRowSorter.create(schema, rowOrdering, SortPrefixUtils.getPrefixComparator(sortOn),
        prefixComputer, SparkEnv.get.memoryManager.pageSizeBytes,
        radix && ties.isEmpty && SortPrefixUtils.canSortFullyWithPrefix(sortOn))
    }
  }

  /** The distinct declarative aggregates in `exprs`, run through one
    * buffer with generated projections: `init`, `update` per input row,
    * `eval` to one row of results (named `results`), and `bind` to rewrite
    * an expression onto those results. */
  final class Aggs(exprs: Seq[Expression], in: Seq[Attribute]) {
    private val fns: Seq[DeclarativeAggregate] = exprs.flatMap(_.collect {
      case f: DeclarativeAggregate => f
    }).groupBy(_.canonicalized).values.map(_.head).toSeq
    val results: Seq[Attribute] =
      fns.map(f => AttributeReference("agg", f.dataType, nullable = true)())
    private val resultTypes = results.map(_.dataType).toArray
    private val byFn = fns.map(_.canonicalized).zip(results).toMap
    private val bufAttrs = fns.flatMap(_.aggBufferAttributes)
    private val buf = new SpecificInternalRow(bufAttrs.map(_.dataType))
    private val initProj = MutableProjection.create(fns.flatMap(_.initialValues), Nil)
    initProj.target(buf)
    private val updateProj = MutableProjection.create(fns.flatMap(_.updateExpressions), bufAttrs ++ in)
    updateProj.target(buf)
    private val evalProj = UnsafeProjection.create(fns.map(_.evaluateExpression), bufAttrs)
    private val joined = new JoinedRow

    def bind(e: Expression): Expression = e.transformDown {
      case f: DeclarativeAggregate => byFn(f.canonicalized)
    }
    def init(): Unit = initProj(null)
    def update(row: InternalRow): Unit = updateProj(joined(buf, row))
    def eval(): UnsafeRow = evalProj(buf)

    /** Copy a result row into `row` from slot 0; returns the next slot. */
    def copyTo(result: InternalRow, row: InternalRow): Int =
      copyInto(result, resultTypes, row, 0)
  }

  /** Copy the columns of `from`, typed `types`, into `to` from slot `at`
    * through the typed accessors, so long, int and double values are not
    * boxed; returns the next free slot. */
  private def copyInto(from: InternalRow, types: Array[DataType], to: InternalRow, at: Int): Int = {
    var i = 0
    while (i < types.length) {
      if (from.isNullAt(i)) to.setNullAt(at + i)
      else types(i) match {
        case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
          to.setLong(at + i, from.getLong(i))
        case IntegerType | DateType => to.setInt(at + i, from.getInt(i))
        case DoubleType => to.setDouble(at + i, from.getDouble(i))
        case t => to.update(at + i, from.get(i, t))
      }
      i += 1
    }
    at + types.length
  }

  /** One feature table's cursor over the current key's rows: a running
    * aggregate buffer over the rows `where` admits, advanced in time. */
  final class Cursor(
      where: Expression, val offset: Long, fValues: Seq[Expression],
      in: Seq[Attribute], tIdx: Int, part: Int) {
    private val aggs = new Aggs(fValues, in)
    private val admit = Predicate.create(where, in)
    admit.initialize(part)
    private val valueTypes = fValues.map(_.dataType).toArray
    private val valueProj = UnsafeProjection.create(fValues.map(aggs.bind), aggs.results)
    private var rows: Iterator[UnsafeRow] = Iterator.empty
    private var peek: UnsafeRow = _
    private var has = false

    def reset(it: Iterator[UnsafeRow]): Unit = {
      rows = it
      peek = if (rows.hasNext) rows.next() else null
      has = false
      aggs.init()
    }

    /** Fold every row at or before `asOf` (rows without a time sort first
      * and fold too, as in the RANGE frame); true when a qualifying row
      * with a time has been folded, i.e. a version exists. */
    def advance(asOf: Long): Boolean = {
      while (peek != null && (peek.isNullAt(tIdx) || peek.getLong(tIdx) <= asOf)) {
        if (admit.eval(peek)) {
          aggs.update(peek)
          if (!peek.isNullAt(tIdx)) has = true
        }
        peek = if (rows.hasNext) rows.next() else null
      }
      has
    }

    /** Write this feature's values (or NULLs) into `row` from `at`;
      * returns the next free slot. */
    def fill(row: InternalRow, at: Int, hit: Boolean): Int =
      if (hit) copyInto(valueProj(aggs.eval()), valueTypes, row, at)
      else {
        var i = 0
        while (i < valueTypes.length) { row.setNullAt(at + i); i += 1 }
        at + valueTypes.length
      }
  }
}

package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Engine-side counters for the traced run, read only through Spark's
  * public listener interfaces: task, stage and job events
  * ([[SparkListener]]), micro-batch progress ([[StreamingQueryListener]])
  * and the executed plan of each finished query
  * ([[QueryExecutionListener]]). Attached around traced ops only. */
final class Probe(spark: SparkSession) extends SparkListener {

  final case class Counters(
      var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleWrite: Long = 0, var shuffleRead: Long = 0, var spill: Long = 0,
      var bytesRead: Long = 0, var rowsRead: Long = 0, var peakExecMem: Long = 0)

  private val c = Counters()
  /** (start, end) wall millis of every finished job */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** per stage: (wall ms, task durations ms) */
  val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  val stageWall = ArrayBuffer.empty[((Int, Int), Long)]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  val plans = ArrayBuffer.empty[QueryExecution]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c.jobs += 1
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c.stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; f <- i.completionTime)
      stageWall += (((i.stageId, i.attemptNumber()), f - s))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesRead += m.inputMetrics.bytesRead
      c.rowsRead += m.inputMetrics.recordsRead
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Probe.this.synchronized { plans += qe }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  /** Deliver the pending events, then remove the listeners. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  def jobsNow: Long = synchronized(c.jobs)

  def snapshot(): Counters = { drain(); synchronized(c.copy()) }

  def takePlans(): Seq[QueryExecution] = {
    drain()
    synchronized { val p = plans.toSeq; plans.clear(); p }
  }

  /** Wall time inside [t0, t1] (millis) not covered by any job. */
  def driverGapMs(t0: Long, t1: Long): Double = synchronized {
    val iv = jobIntervals.iterator
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0 - covered).toDouble
  }

  /** max / median task duration of the longest stage seen so far. */
  def taskSkew(): Double = synchronized {
    if (stageWall.isEmpty) 0.0
    else {
      val key = stageWall.maxBy(_._2)._1
      val d = stageTasks.getOrElse(key, ArrayBuffer.empty[Long]).sorted
      if (d.isEmpty) 0.0
      else d.last.toDouble / math.max(1L, d(d.length / 2)).toDouble
    }
  }

}

object Plans {

  /** Every node of an executed plan, descending into adaptive final plans,
    * query stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Nil
    case other => other.children.flatMap(nodes)
  })

  def metric(ns: Seq[SparkPlan], name: String): Long =
    ns.flatMap(_.metrics.get(name)).map(_.value).sum

  /** exchanges, sorts, sort time (ms), sort spill (bytes), scan time (ms). */
  def summary(qe: QueryExecution): Map[String, Double] = {
    val ns = nodes(qe.executedPlan)
    val sorts = ns.filter(_.nodeName == "Sort")
    val scans = ns.filter(n => n.nodeName.startsWith("Scan") || n.nodeName.contains("FileScan"))
    Map(
      "exchanges" -> ns.count(_.isInstanceOf[Exchange]).toDouble,
      "sorts" -> sorts.size.toDouble,
      "sort_ms" -> metric(sorts, "sortTime").toDouble,
      "spill_bytes" -> metric(sorts, "spillSize").toDouble,
      "scan_ms" -> (metric(scans, "scanTime") + metric(scans, "metadataTime")).toDouble)
  }
}

/** Nested spans (name, layer, start, end, parent, request id), held in
  * memory and written out once at the end of the run. Disabled, [[span]]
  * is a plain call; traced runs enable it for the traced half only. */
final class Tracer(var enabled: Boolean) {
  import Tracer.Span
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var jobCount: () => Long = () => 0L
  /** the timed op the next spans belong to; their shared request id */
  var request: Long = -1L

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, layer, name, System.nanoTime, 0L,
        stack.headOption.getOrElse(-1), request, jobCount())
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.end = System.nanoTime
        s.jobsEnd = jobCount()
        stack = stack.tail
      }
    }

  /** Self time per layer in ms: span time minus its children's. */
  def selfMs(): Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.end - s.start - childNs(s.id)) / 1e6).sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(Json.obj(Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
        "request" -> s.req, "jobs" -> (s.jobsEnd - s.jobsAt))))
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, layer: String, name: String, start: Long,
      var end: Long, parent: Int, req: Long, var jobsAt: Long = 0, var jobsEnd: Long = 0)
}

/** Minimal JSON writer for the run report (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case a: Array[_] => value(a.toSeq)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

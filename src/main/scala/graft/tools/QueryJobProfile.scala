package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-clock attribution for one registry query: runs the query
  * through the bench's noop sink with a SparkListener recording every job's
  * (description, wall ms, #stages, #tasks), so the seconds of a multi-job
  * operator (eager counts, guard aggregations, persists, lineage cuts,
  * index-build writes, the terminal noop) each get a named line. Diagnostic
  * only. Usage: QueryJobProfile <sfDir> <query> [query...] — runs each query
  * TWICE (cold, then warm) and prints both job tables.
  */
object QueryJobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.prepare(spark)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()

    final case class JobRec(
        id: Int, desc: String, start: Long, var end: Long = 0L,
        stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val site = e.stageInfos.sortBy(-_.numTasks).headOption
          .map(s => s.name + " @ " + s.details.linesIterator
            .find(l => l.contains("graft") && !l.contains("QueryJobProfile"))
            .getOrElse("").trim)
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId,
          (desc + " | " + site).take(200), e.time,
          stages = e.stageInfos.size,
          tasks = e.stageInfos.map(_.numTasks).sum))
        order.add(e.jobId)
        ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      Seq("cold", "warm").foreach { pass =>
        jobs.clear(); order.clear()
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val t0Ms = System.currentTimeMillis()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val t1Ms = System.currentTimeMillis()
        Thread.sleep(300)
        println(f"== $name [$pass] wall ${wall}%.2f s ==")
        val ended = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        scala.jdk.CollectionConverters.IteratorHasAsScala(order.iterator())
          .asScala.foreach { id =>
            val j = jobs.get(id)
            val ms = if (j.end > 0) j.end - j.start else -1L
            if (ms >= 0) ended += ((math.max(j.start, t0Ms), math.min(j.end, t1Ms)))
            println(f"  job $id%4d ${ms / 1e3}%7.2f s  stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc.take(170)}")
          }
        // jobs overlap (AQE runs independent stages concurrently), so the
        // accounted time is the union of the [start, end] intervals inside
        // the query's wall time, not their sum; the gap is the rest of it
        var acct = 0L
        var covered = Long.MinValue
        ended.sortBy(_._1).foreach { case (s, e) =>
          acct += math.max(0L, e - math.max(s, covered))
          covered = math.max(covered, e)
        }
        println(f"  [accounted ${acct / 1e3}%.2f s of ${wall}%.2f s wall " +
          f"(union of job intervals); gap ${wall - acct / 1e3}%.2f s = driver/planning time]")
      }
    }
    spark.stop()
  }
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** JVM side of the graft benchmark. Runs one workload against inputs
  * that `run.py` generated, times calls into graft's public modules and
  * writes raw samples plus the outputs to check into `--out`. Statistics
  * and output checks are done by `run.py`, outside the timed region.
  *
  * {{{
  * java -cp <classpath> graft.perfbench.Main --workload backfill_large \
  *   --input <dir> --out <dir> --seconds 10 --trace 0
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opt("out")

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$out/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start to a ready session
    val sessionS = (System.currentTimeMillis -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(opt, opt("input"), out, opt("seconds").toDouble, opt("trace") == "1")
    ctx.report("session_s") = sessionS
    ctx.mark("session")
    try {
      opt("workload") match {
        case "backfill_large" => Workloads.backfill(spark, ctx)
        case "stream_examples" => Workloads.stream(spark, ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.mark("workload")
      ctx.report("peak_rss_mb") = Calibration.peakRssMb()
      // after the workload, so the probes run warm and the JVM's first-job
      // cost stays in the workload's set-up
      ctx.report("host") = Calibration.stamp(spark)
      if (ctx.trace) ctx.tracer.write(s"$out/spans.jsonl")
      ctx.report("layers") = ctx.layers.toMap
      ctx.mark("host_stamp")
    } finally {
      val w = new java.io.PrintWriter(s"$out/report.json")
      try w.println(Json.obj(ctx.report.toMap)) finally w.close()
      spark.stop()
    }
  }
}

/** Per-run state: options, the raw report, per-layer metrics, tracer. */
final class Ctx(val opt: Map[String, String], val in: String, val out: String, val seconds: Double,
    val trace: Boolean) {
  val report = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val tracer = new Tracer(false)
  private var marks = Map.empty[String, Double]
  /** Seconds from JVM start to the end of the named phase, for the run log. */
  def mark(name: String): Unit = {
    marks += name -> (System.currentTimeMillis -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    report("marks") = marks
  }
}

/** Host stamp and fixed-work calibration probes: a single-thread CPU loop
  * and a small four-way shuffle, both timed after the workload. Together with
  * steal and load (read by `run.py`) they say whether two run sets ran on
  * comparable hardware. */
object Calibration {

  def stamp(spark: SparkSession): Map[String, Any] = {
    import org.apache.spark.sql.functions._
    // CPU: 50M rounds of a 64-bit mix (ms)
    val cpu = (1 to 1).map { _ =>
      val t = System.nanoTime
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; i += 1 }
      if (x == 42) println("")
      (System.nanoTime - t) / 1e6
    }.min
    // shuffle: 500k rows hashed into 4 partitions and aggregated (ms)
    val shuffle = (1 to 1).map { _ =>
      val t = System.nanoTime
      spark.range(0, 500000, 1, 4).repartition(4, col("id") % 1000)
        .groupBy(col("id") % 1000).count().write.format("noop").mode("overwrite").save()
      (System.nanoTime - t) / 1e6
    }.min
    Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "calib_cpu_ms" -> cpu,
      "calib_shuffle_ms" -> shuffle)
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}

package graft

import graft.sources.Tables
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` reads through the memoized parquet schema: a rewritten
  * file is inferred again, an unchanged one costs no Spark job. */
class TablesSpec extends AnyFunSuite with SparkSpec {

  /** Write `df` as the single parquet file `to`, replacing what is there. */
  private def writeFile(df: DataFrame, to: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_write")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, to, StandardCopyOption.REPLACE_EXISTING)
    } finally deleteTree(tmp)
  }

  private def deleteTree(p: Path): Unit = {
    Option(p.toFile.listFiles()).foreach(_.foreach(f => deleteTree(f.toPath)))
    Files.deleteIfExists(p)
  }

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_tables")
    try body(dir) finally deleteTree(dir)
  }

  /** Spark jobs started on this thread by `body`. Listener events arrive
    * in order, so once a sentinel job run after `body` has been seen, every
    * job `body` started has been counted. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val mark = "graft.tablesSpec.probe"
    val started = new AtomicInteger
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(mark))) match {
          case Some("body") => started.incrementAndGet()
          case Some("sentinel") => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(mark, "body")
      body
      sc.setLocalProperty(mark, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      started.get
    } finally {
      sc.setLocalProperty(mark, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a parquet file rewritten at the same path is read with its new schema") {
    withDir { dir =>
      val f = dir.resolve("t.parquet")
      writeFile(spark.range(3).toDF("a"), f)
      assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("a"))
      writeFile(spark.range(3).selectExpr("id AS a", "id * 2 AS b"), f)
      val t = Tables.load(spark, dir.toString, "t")
      assert(t.columns.toSeq === Seq("a", "b"))
      assert(t.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((0L, 0L), (1L, 2L), (2L, 4L)))
    }
  }

  test("a warm load of an unchanged file starts no Spark job") {
    withDir { dir =>
      writeFile(spark.range(5).selectExpr("id AS a", "cast(id AS string) AS s"),
        dir.resolve("t.parquet"))
      // the cold load infers the schema with a job the listener sees
      assert(jobsStartedBy(Tables.load(spark, dir.toString, "t")) >= 1)
      assert(jobsStartedBy(Tables.load(spark, dir.toString, "t")) === 0)
    }
  }
}

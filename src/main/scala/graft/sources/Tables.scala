package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's parquet testdata (TESTDATA.md).
  *
  * The physical layout of `events.parquet`'s `ts` column has drifted across
  * testdata generations: Parquet TIMESTAMP(NANOS) (which Spark 4 only reads
  * via the nanos-as-long escape hatch), then plain `timestamp[us]` (read as
  * TIMESTAMP_NTZ). We therefore normalize by the OBSERVED Spark type, not an
  * assumed layout:
  *
  *   - `LongType` (nanos-as-long): `timestamp_micros(ts DIV 1000)` — integer
  *     division, because a double-valued division would lose precision
  *     (ns-since-epoch ≈ 1.7e18 > 2^53). The source data carries zero
  *     sub-microsecond information, so this matches DuckDB's ns→us coercion.
  *   - `TimestampNTZType`: cast to session-TZ TimestampType. The session TZ
  *     is pinned UTC in every harness, so instants match DuckDB's naive
  *     TIMESTAMP reading exactly.
  *   - `TimestampType`: pass through.
  */
object Tables {

  /** Rebuild a canonical microsecond TimestampType `ts` from whatever
    * physical form this testdata generation uses. Works on both batch and
    * streaming DataFrames (the schema is known either way).
    */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** The table `name` of a testdata directory, read with its memoized
    * schema ([[parquetSchema]]): only the first read of a file infers it. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(parquetSchema(spark, path)).parquet(path)
    name match {
      case "events" => normalizeEventsTs(df)
      case _        => df
    }
  }

  /** Runtime conf needed before any read of a nanos-layout events table.
    * Harmless for other layouts; kept so older testdata keeps loading.
    */
  def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    prepare(spark)
    load(spark, sfDir, "events")
  }

  /** Parquet schema of a file, memoized for the JVM's lifetime: inferring
    * it runs a Spark job that reads the footer (~0.1 s warm at sf0.1), and
    * every table load and every file-stream query needs the schema. The
    * memo key is the path plus the file's length and modification time,
    * taken from one Hadoop `FileStatus` call, so a file rewritten in place
    * is inferred again. For a directory of part files the key is the
    * directory's own entry, which a Spark overwrite recreates. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, Long, Long), org.apache.spark.sql.types.StructType]()
  def parquetSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
    schemaCache.computeIfAbsent((path, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
  }

  /** Streaming reader for the events table with the same `ts`
    * normalization as [[events]]. File streams need an explicit schema, so
    * we take it from a (memoized) batch read of the same file.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    prepare(spark)
    val raw = spark.readStream
      .schema(parquetSchema(spark, s"$dir/events.parquet"))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    normalizeEventsTs(raw)
  }

  /** Streaming reader for the documents table (memoized schema). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(parquetSchema(spark, s"$dir/documents.parquet"))
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
}

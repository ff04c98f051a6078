package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table access over the harness star schema (TESTDATA.md).
  *
  * Mirrors the reference's bronze/silver readers
  * (`src/jobs/utils/data_access/bronze_readers.py:27-158`,
  * `silver_readers.py:146-216` in /root/reference) but Spark-first: we hand
  * Catalyst the base path and declarative filters and let
  * `PruneFileSourcePartitions` / `PushDownPredicates` do the pruning instead
  * of baking predicates into path strings.
  */
object Tables {
  /** Inferred-schema cache: every bare `spark.read.parquet(path)` opens a
    * parquet footer to infer the schema, and a catalog run constructs
    * ~1000 readers over the same handful of files, so the footer reads are
    * a measurable slice of the fixed per-query floor. A miss reads the
    * footer on the driver, the way [[graft.sources.BronzeReader.read]]
    * does, not in an inference job. This memoizes ONLY
    * the StructType (metadata, the same thing a real deployment gets from
    * its table catalog): every query still scans the parquet data.
    *
    * Lifetime: the outer map is keyed by the session's id, not the
    * session, so it holds no session alive, and a listener drops that
    * session's entries when its SparkContext stops. The inner key carries
    * the file's length and modification time, so a table rewritten
    * mid-session has its schema inferred again. */
  private val schemaCache = new ConcurrentHashMap[String,
    ConcurrentHashMap[(String, Long, Long), StructType]]()

  private def sessionSchemas(spark: SparkSession)
  : ConcurrentHashMap[(String, Long, Long), StructType] = {
    val id = DatasetBridge.sessionId(spark)
    schemaCache.computeIfAbsent(id, _ => {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          schemaCache.remove(id)
      })
      new ConcurrentHashMap()
    })
  }

  /** Read one table of the harness dataset: `dir/name.parquet`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val schema = sessionSchemas(spark).computeIfAbsent(
      (path, st.getLen, st.getModificationTime),
      _ => FooterBridge.schema(spark, path))
    spark.read.schema(schema).parquet(path)
  }

  /** `spark.read.parquet(path)` without the schema inference job: the
    * footers are read on the driver ([[FooterBridge]]). Spark infers the
    * schema, and raises its own error, when `path` holds no file. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterBridge.schema(spark, path)).parquet(path)

  /** Round-robin spread across the session's default parallelism.
    *
    * The harness parquet files are written as a single row group, so the
    * scan is ONE task; any compute layered directly on the scan (decimal
    * partial aggregation, regex/md5 per row, Encoder ser/de) runs on one
    * core while the rest idle. A cheap round-robin exchange of the narrow
    * projected rows restores full parallelism. On a real cluster the scan
    * already has file/row-group parallelism and AQE coalesces the extra
    * exchange away when it is not needed. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "events")

  /** Event time as long epoch-microseconds, whatever the fixture's physical
    * type. The harness has shipped `events.ts` both as parquet
    * TIMESTAMP(NANOS) (surfaced as long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us]
    * (TIMESTAMP_NTZ); queries must not bake in either contract. With the
    * session timezone pinned to UTC (GraftSession), `cast("timestamp")` on
    * an NTZ value is a re-tag, so `unix_micros` yields the same integer
    * DuckDB's `epoch_us(ts)` does — both engines then agree bit-for-bit on
    * every downstream integer `div`. */
  def eventTimeUs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case LongType => expr(s"`$name` div 1000")
      case _        => unix_micros(col(name).cast("timestamp"))
    }

  /** `events` with `ts` normalized in place to long epoch-µs via
    * [[eventTimeUs]] — the canonical input for every event-time query, so
    * the adaptivity lives here once instead of in 26 query bodies. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    e.withColumn("ts", eventTimeUs(e))
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}

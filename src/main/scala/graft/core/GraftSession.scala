package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The one session factory: every main (`Bench`, `Verify`, `Smoke`, the
  * audit and demo mains), the benchmark in `lakebench/` and the specs
  * build their session here, so they all run the same settings.
  *
  * The reference configures AQE + skew-join + 200 shuffle partitions on a
  * 2-worker Glue cluster (`src/jobs/config/job_config.py:211-218` in
  * /root/reference). We keep AQE (runtime coalescing, skew-join splitting,
  * broadcast demotion) but size `spark.sql.shuffle.partitions` to the actual
  * parallelism — on a real cluster this would be 2-3x total cores; the
  * harness runs local[N].
  *
  * Dynamic partition overwrite is not a session setting: the reference's
  * session-wide `partitionOverwriteMode=dynamic` becomes a per-write
  * option ([[graft.io.ParquetSink.overwritePartitions]]), so every other
  * overwrite keeps Spark's static semantics.
  *
  * Generated-code reuse ([[CodegenReuse]]): Spark keeps compiled
  * generated classes in one LRU cache, `spark.sql.codegen.cache.maxEntries`,
  * default 100. A warm pass that touches more distinct classes than that
  * evicts each class before its next use and so recompiles all of them:
  * 231 compiles per medallion refresh and 352 per 50-query catalog pass,
  * measured at the default.
  *
  * Local file system ([[ForkFreeLocalFs]]): the `file` scheme is served by
  * [[graft.io.LocalFs]], which sets permissions without forking `chmod`
  * for every file and directory a write creates.
  */
object GraftSession {
  /** Size of Spark's generated-class cache. Measured working set on 4
    * cores: one full 488-query catalog pass at sf0.001 compiles 6,106
    * distinct classes (about 85 MB of metaspace), a one-season backfill
    * about 200 and a Grand Prix refresh about 50 more; 10,000 covers all
    * of that with headroom. It is a static conf: the cache is JVM-wide and
    * sized once, by the first session that generates code, so it goes on
    * the builder and a later session cannot resize it. */
  val CodegenCacheEntries: Int = 10000

  /** The settings that let a warm pass reuse the classes it compiled
    * before: the cache size, and class names without the codegen stage id.
    * AQE numbers a query's stages in the order they are planned at run
    * time, which depends on which shuffle finishes first, so the same
    * query would otherwise emit differently named, uncached classes
    * (0–10 recompiles per refresh). The id stays in the source comment
    * `debugCodegen` prints. */
  private val CodegenReuse: Map[String, Any] = Map(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> CodegenCacheEntries,
    SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key -> false)

  /** Serve the `file` scheme with [[graft.io.LocalFs]]. Hadoop caches one
    * file system per scheme and JVM, created from the configuration of
    * its first user, so this is set on the builder, before the session's
    * context opens its first file. */
  private val ForkFreeLocalFs: Map[String, Any] =
    Map("spark.hadoop.fs.file.impl" -> classOf[graft.io.LocalFs].getName)

  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
              Runtime.getRuntime.availableProcessors().toString),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // If events.parquet carries TIMESTAMP(NANOS) (one of the fixture's
      // historical contracts), surface it as long nanos instead of
      // rejecting it; a timestamp[us] fixture ignores this flag and
      // Tables.eventsUs adapts either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .config(CodegenReuse)
      .config(ForkFreeLocalFs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

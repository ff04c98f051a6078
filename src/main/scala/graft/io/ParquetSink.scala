package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Partitioned Parquet write layer — the plain-Parquet re-statement of the
  * reference's Iceberg sinks (`utils/transformations/common.py:321-415` in
  * the reference):
  *
  *  - overwrite:           replace the whole table (A8)
  *  - overwritePartitions: dynamic partition overwrite — replace only the
  *                         partitions present in the batch (A9); the
  *                         idempotent re-run primitive for both
  *                         HISTORICAL (year) and INCREMENTAL (year+gp)
  *  - atomicRewrite:       replace a table derived from itself (SCD2)
  */
object ParquetSink {

  def overwrite(df: DataFrame, path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    df
  }

  /** Dynamic partition overwrite: only partitions present in `df` are
    * replaced. The mode is passed as a DataFrameWriter option, which scopes
    * it to THIS write only — a session-conf set here would leak dynamic
    * semantics into every later overwrite on the shared session. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): DataFrame = {
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
    df
  }

  /** Bucketed managed table: pre-shuffles data into `nBuckets` by
    * `bucketCol` at write time so later equi-joins/aggregations on that
    * key read co-located buckets and skip the exchange entirely — the
    * at-scale answer to repeated large-fact joins (SURVEY §4 partitioning
    * strategy). Requires saveAsTable (bucket metadata lives in the
    * catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit = {
    val spark = df.sparkSession
    // rerun-idempotent: a fresh session's metastore doesn't know about a
    // previous run's managed-table directory, and saveAsTable refuses to
    // reuse the on-disk location — drop the catalog entry AND the stale
    // warehouse path before writing. The location is resolved through the
    // catalog (live table) or the database's locationUri (stale dir), and
    // deleted via the Hadoop FileSystem of that URI: a string-concat
    // against spark.sql.warehouse.dir would misplace qualified names
    // (`db.tbl` lives under `db.db/tbl`) and silently no-op on
    // HDFS/object-store warehouses where java.io.File cannot reach.
    val location: org.apache.hadoop.fs.Path =
      if (spark.catalog.tableExists(table)) {
        val loc = spark.sql(s"DESCRIBE FORMATTED $table")
          .filter(org.apache.spark.sql.functions.col("col_name") === "Location")
          .select("data_type").head().getString(0)
        new org.apache.hadoop.fs.Path(loc)
      } else {
        val parts = table.split('.')
        val (db, tbl) =
          if (parts.length >= 2) (parts(parts.length - 2), parts.last)
          else (spark.catalog.currentDatabase, table)
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(spark.catalog.getDatabase(db).locationUri),
          tbl.toLowerCase)
      }
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(location)) fs.delete(location, true)
    df.write.format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  /** Atomic full-table rewrite: write to a temp sibling dir, then swap.
    * The SCD2 merge (read-modify-rewrite) needs this because the new table
    * is derived from the old one — overwriting in place would read and
    * clobber the same files. */
  def atomicRewrite(df: DataFrame, path: String): Unit = {
    val target = Paths.get(path)
    val tmp = Paths.get(path + ".__tmp__")
    val bak = Paths.get(path + ".__old__")
    deleteRecursive(tmp)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    deleteRecursive(bak)
    if (Files.exists(target))
      Files.move(target, bak, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(bak)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}

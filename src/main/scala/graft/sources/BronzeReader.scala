package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze-layer reading (SURVEY.md §2.A3-A5, A12-A13), Spark-first.
  *
  * The reference bakes partition pruning into path strings with glob
  * wildcards (`bronze_readers.py:27-158` in /root/reference) and
  * re-derives missing partition columns by regex over file paths. Here the
  * base path is handed to Spark and filters are declarative — Catalyst's
  * `PruneFileSourcePartitions` turns them into partition pruning, visible
  * as `PartitionFilters` in the scan node — which survives any number of
  * partition values without path-string assembly.
  */
object BronzeReader {

  /** Partition-pruned scan: read the table root, filter on partition
    * columns (A3). `mergeSchema` tolerates drifting JSON-derived schemas
    * (A4).
    *
    * The schema is merged from the footers of the files the read selects,
    * as the reference's path-string reads do: every file under the
    * `year=`/`grand_prix=` directories the filters name, every file of the
    * table when there is no filter. So a column only other weekends carry
    * is not in the frame. Without `mergeSchema` it is the first selected
    * file's schema. The footers are read on the driver, so no Spark job
    * runs, however many files the read selects
    * ([[org.apache.spark.sql.execution.datasources.parquet.FooterBridge]]).
    * A selection with no files takes the whole table's schema, as an
    * unfiltered read does, and yields no rows. Partition columns are
    * discovered from the directory names as before. */
  def read(spark: SparkSession, root: String,
           year: Option[Int] = None, grandPrix: Option[String] = None,
           mergeSchema: Boolean = true): DataFrame = {
    val schema = FooterBridge.schema(spark, root,
      Map("mergeSchema" -> mergeSchema.toString), {
        case ("year", v) => year.forall(y => v.toIntOption.contains(y))
        case ("grand_prix", v) => grandPrix.forall(_ == v)
        case _ => true
      })
    val base = spark.read.schema(schema).parquet(root)
    val withYear = year.fold(base)(y => base.filter(col("year") === y))
    grandPrix.fold(withYear)(g =>
      withYear.filter(col("grand_prix") === g))
  }

  /** Partition-column recovery (A5): if a column is missing after read
    * (e.g. data written without Hive-style dirs), re-derive it from the
    * file path via `input_file_name` + `regexp_extract` — the reference's
    * defensive pattern (`sessions_transform.py:115-125`). */
  def recoverPartitionColumn(df: DataFrame, colName: String): DataFrame =
    if (df.columns.contains(colName)) df
    else df.withColumn(colName,
      regexp_extract(input_file_name(), s"$colName=([^/]+)", 1))

  /** Empty typed relation (A13): schema-correct empty frame when a scope
    * matches nothing (`sessions_transform.py:62-64`). */
  def emptyTyped(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)

  /** DDL-ish table registration (A12): persist as a managed table in the
    * session catalog if absent, mirroring CREATE TABLE IF NOT EXISTS. */
  def ensureTable(spark: SparkSession, df: DataFrame, table: String,
                  partitionCols: Seq[String] = Nil): Unit =
    if (!spark.catalog.tableExists(table)) {
      val w = df.write.format("parquet")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .saveAsTable(table)
    }
}

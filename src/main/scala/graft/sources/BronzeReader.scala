package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions._

/** Bronze-layer reading (SURVEY.md §2.A3-A4, A13), Spark-first.
  *
  * The reference bakes partition pruning into path strings with glob
  * wildcards (`bronze_readers.py:27-158` in the reference) and
  * re-derives missing partition columns by regex over file paths. Here the
  * base path is handed to Spark and filters are declarative — Catalyst's
  * `PruneFileSourcePartitions` turns them into partition pruning, visible
  * as `PartitionFilters` in the scan node — which survives any number of
  * partition values without path-string assembly.
  */
object BronzeReader {

  /** Partition-pruned scan: read the table root, filter on partition
    * columns (A3). Merging the schema across files tolerates drifting
    * JSON-derived schemas (A4).
    *
    * The schema is merged from the footers of the files the read selects,
    * as the reference's path-string reads do: every file under the
    * `year=`/`grand_prix=` directories the filters name, every file of the
    * table when there is no filter. So a column only other weekends carry
    * is not in the frame. The footers are read on the driver, so no Spark
    * job runs, however many files the read selects
    * ([[org.apache.spark.sql.execution.datasources.parquet.FooterBridge]]).
    * A selection with no files takes the whole table's schema, as an
    * unfiltered read does, and yields no rows (A13). Partition columns are
    * discovered from the directory names as before. */
  def read(spark: SparkSession, root: String,
           year: Option[Int] = None,
           grandPrix: Option[String] = None): DataFrame = {
    val schema = FooterBridge.schema(spark, root,
      Map("mergeSchema" -> "true"), {
        case ("year", v) => year.forall(y => v.toIntOption.contains(y))
        case ("grand_prix", v) => grandPrix.forall(_ == v)
        case _ => true
      })
    val base = spark.read.schema(schema).parquet(root)
    val withYear = year.fold(base)(y => base.filter(col("year") === y))
    grandPrix.fold(withYear)(g =>
      withYear.filter(col("grand_prix") === g))
  }
}

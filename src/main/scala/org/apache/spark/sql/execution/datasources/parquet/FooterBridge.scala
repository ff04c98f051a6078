package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's `private[parquet]` footer readers, so that a Parquet
  * schema is inferred on the driver instead of in a Spark job. Lives in
  * Spark's parquet package solely to satisfy the qualifier.
  *
  * Spark's own inference (`ParquetUtils.inferSchema`) reads the footers in
  * a job, one per `spark.read.parquet(...)` that has no declared schema: a
  * few milliseconds of footer I/O behind a job's scheduling, task
  * serialization and result collection. This does the same reads on the
  * driver with the same converter and merge, whatever the file count: in
  * a `local[4]` session on a 4-core VM, merging the footers of N small
  * bronze files took 18 ms on the driver against 142 ms in Spark's job
  * at N = 8, 156 against 219 ms at 3,000 and 505 against 637 ms at
  * 10,000 (medians of 10 to 20 alternated runs). */
object FooterBridge {

  /** The files under `root` that Spark's file index lists, each paired
    * with whether `keep` selects it. Names starting with `.`, or with `_`
    * and no `=`, are skipped as in `HadoopFSUtils.shouldFilterOutPathName`
    * (`_SUCCESS`, `.crc`, `_temporary`). A file is selected when
    * `keep(column, value)` holds for every `column=value` directory above
    * it, the value unescaped as in partition discovery. Lists with
    * `FileSystem.listStatus` only: `listFiles` and `LocatedFileStatus`
    * load permissions, which the local file system does by forking `ls`
    * per file. A missing root lists nothing. */
  private def leafFiles(spark: SparkSession, root: String,
                        keep: (String, String) => Boolean): Seq[(FileStatus, Boolean)] = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path, kept: Boolean): Seq[(FileStatus, Boolean)] = fs.listStatus(dir).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .flatMap { s =>
        if (!s.isDirectory) Seq(s -> kept)
        else walk(s.getPath, kept && (s.getPath.getName.split("=", 2) match {
          case Array(k, v) => keep(k, ExternalCatalogUtils.unescapePathName(v))
          case _ => true
        }))
      }
    try walk(path, kept = true) catch { case _: FileNotFoundException => Nil }
  }

  /** The data schema `spark.read.options(options).parquet(root)` infers,
    * over the [[leafFiles]] of `root` that `keep` selects, or over all of
    * them when `keep` selects none. Of those, the files
    * `ParquetUtils.inferSchema` picks (with `mergeSchema`, every data file
    * plus the summary files; without, the first summary or data file; in
    * path order), their footers read by
    * `ParquetFileFormat.readParquetFootersInParallel` and converted by
    * `ParquetFileFormat.readSchema` under the session's
    * binary/INT96/NTZ/nanos settings, merged left to right with the
    * session's case sensitivity; a type conflict raises Spark's
    * `failedMergingSchemaError`. When `root` holds no readable file, Spark
    * infers the schema, and raises its own error. */
  def schema(spark: SparkSession, root: String,
             options: Map[String, String] = Map.empty,
             keep: (String, String) => Boolean = (_, _) => true): StructType = {
    val conf = spark.sessionState.conf
    val parquetOptions = new ParquetOptions(options, conf)
    def isSummary(f: FileStatus) = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)(f.getPath.getName)
    // the file index drops empty summary files, never data files
    val listed = leafFiles(spark, root, keep).filter { case (f, _) =>
      f.getLen > 0 || !isSummary(f)
    }
    val selected = (if (listed.exists(_._2)) listed.filter(_._2) else listed)
      .map(_._1).sortBy(_.getPath.toString)
    val (summaries, data) = selected.partition(isSummary)
    val (common, metadata) = summaries.partition(
      _.getPath.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val touch =
      if (parquetOptions.mergeSchema) {
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      } else {
        common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
      }
    ParquetFileFormat.readParquetFootersInParallel(
        spark.sessionState.newHadoopConfWithOptions(options), touch,
        parquetOptions.ignoreCorruptFiles)
      .flatMap(footer => ParquetFileFormat.readSchema(Seq(footer), spark))
      .reduceOption { (merged, next) =>
        try merged.merge(next, conf.caseSensitiveAnalysis) catch {
          case e: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
        }
      }
      .getOrElse(spark.read.options(options).parquet(root).schema)
  }
}

package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.io.{LocalFs, ParquetSink}

class IoSpec extends SparkSpec {

  test("dynamic partition overwrite replaces only touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dpo").toString + "/t"
    val v1 = Seq((1, "a", 10), (2, "a", 20), (3, "b", 30))
      .toDF("id", "gp", "v")
    v1.write.partitionBy("gp").parquet(dir)
    // rewrite only partition a with new content
    val v2 = Seq((9, "a", 99)).toDF("id", "gp", "v")
    ParquetSink.overwritePartitions(v2, dir, Seq("gp"))
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("gp"))).toSet
    assert(back == Set((9, "a"), (3, "b")))
    // the dynamic mode must be scoped to the write, not leaked into the
    // shared session conf (would flip later overwrites to dynamic)
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode",
      "STATIC").equalsIgnoreCase("static"))
  }

  test("observe metrics ride the action instead of extra count() jobs") {
    import spark.implicits._
    import graft.io.PipelineMetrics
    val df = Seq((1, Some("a")), (2, None), (3, Some("c")))
      .toDF("id", "name")
    val (observed, obs) = PipelineMetrics.observed(df, "silver_gate",
      Seq("name"))
    val dir = Files.createTempDirectory("graft_obs").toString + "/t"
    observed.write.parquet(dir) // the ONLY job; metrics piggyback on it
    assert(obs.get("n_rows") == 3L)
    assert(obs.get("null_name") == 1L)

    val (checked, inv) = PipelineMetrics.observedInvariant(df.toDF(),
      "points_check", col("id") <= 2)
    checked.write.mode("overwrite").format("noop").save()
    assert(inv.get("n_violations") == 1L)

    // a NULL predicate (range check over a null column) is a violation,
    // not a silent pass: row 2 has name NULL → length(name) > 0 is NULL
    val (checkedNull, invNull) = PipelineMetrics.observedInvariant(df.toDF(),
      "null_check", length(col("name")) > 0)
    checkedNull.write.mode("overwrite").format("noop").save()
    assert(invNull.get("n_violations") == 1L)
  }

  test("atomicRewrite swaps table derived from itself") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ar").toString + "/t"
    ParquetSink.overwrite(Seq((0, 0.0)).toDF("id", "v"), dir)
    ParquetSink.overwrite(Seq((1, 1.0), (2, 2.0), (3, 3.0)).toDF("id", "v"), dir)
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    // derive from the table itself and rewrite in place
    ParquetSink.atomicRewrite(t.filter(col("id") =!= 2), dir)
    val back = spark.read.parquet(dir).select("id").collect()
      .map(_.getInt(0)).toSet
    assert(back == Set(1, 3))
  }

  test("Hilbert-clustered files have tighter on-disk bounding boxes " +
      "than Morton") {
    import graft.operators.ZOrder
    import org.apache.spark.sql.functions._
    val grid = spark.range(20000).select(
      (col("id") * 7919 % 1024).as("zx"),
      (col("id") * 104729 % 1024).as("zy"))
    val dir = java.nio.file.Files.createTempDirectory("hilbert").toString
    ZOrder.writeHilbertClustered(grid, s"$dir/h", col("zx"), col("zy"),
      bits = 10, nFiles = 16)
    ZOrder.writeZOrdered(grid, s"$dir/z",
      Seq(col("zx"), col("zy")), bits = 10, nFiles = 16)
    // per-FILE (x, y) bounding boxes as written to disk — the stats a
    // scan prunes with; Hilbert's unit-step locality must beat
    // Morton's power-of-two jumps on the identical data and file count
    def avgBox(path: String): Double =
      spark.read.parquet(path)
        .groupBy(input_file_name()).agg(
          ((max("zx") - min("zx") + 1) *
            (max("zy") - min("zy") + 1)).as("area"))
        .agg(avg("area")).head().getDouble(0)
    val h = avgBox(s"$dir/h")
    val z = avgBox(s"$dir/z")
    assert(h < z, s"hilbert avg box $h not tighter than morton $z")
  }

  test("Tables.table re-infers the schema of a table rewritten mid-session") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables").toString
    // one parquet FILE, as the harness tables are
    def writeTable(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$dir/tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeTable(Seq((1, "a")).toDF("id", "v"))
    assert(graft.core.Tables.table(spark, dir, "t").columns.toSeq ==
      Seq("id", "v"))
    writeTable(Seq((2, "b", 3.5)).toDF("id", "v", "w"))
    val back = graft.core.Tables.table(spark, dir, "t")
    assert(back.columns.toSeq == Seq("id", "v", "w"))
    assert(back.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("Tables.table infers a table's schema without a Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_jobs").toString
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/tmp")
    val part = new java.io.File(s"$dir/tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/t.parquet"))
    val (t, jobs) = jobsDuring(graft.core.Tables.table(spark, dir, "t"))
    assert(jobs == 0)
    assert(t.schema == spark.read.parquet(s"$dir/t.parquet").schema)
  }

  test("the session's local file system is graft.io.LocalFs") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[LocalFs], fs.getClass.getName)
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).isInstanceOf[LocalFs])
  }

  /** A partitioned overwrite and an atomic rewrite, the medallion's two
    * write paths, through a fresh `file` file system of class `fsClass`
    * under umask 027: the POSIX permissions of everything they leave
    * (part-file names normalized), and the `chmod` processes they forked. */
  private def writeWith(fsClass: Class[_]): (Set[(String, String)], Int) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_perms")
    val df = Seq((1, "a", 1.0), (2, "b", 2.0), (3, "b", 3.0)).toDF("id", "gp", "v")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    withConf("fs.file.impl" -> fsClass.getName, "fs.file.impl.disable.cache" -> "true",
        "fs.permissions.umask-mode" -> "027") {
      rec.start()
      try {
        ParquetSink.overwritePartitions(df, s"$dir/t", Seq("gp"))
        ParquetSink.atomicRewrite(df, s"$dir/dim")
      } finally rec.stop()
    }
    val dump = Files.createTempFile("graft_perms", ".jfr")
    rec.dump(dump)
    rec.close()
    val chmods = RecordingFile.readAllEvents(dump).asScala
      .count(e => Option(e.getString("command")).exists(_.contains("chmod")))
    val perms = Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString.replaceAll("part-[0-9a-f.-]+", "part") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toSet
    (perms, chmods)
  }

  test("LocalFs sets the stock local file system's permissions without forking chmod") {
    val (stock, stockForks) = writeWith(classOf[LocalFileSystem])
    val (ours, ourForks) = writeWith(classOf[LocalFs])
    // the recording sees the stock file system's forks, so it would see ours
    assert(stockForks > 0)
    assert(ourForks == 0)
    assert(ours == stock)
    assert(stock.contains("t/gp=a" -> "rwxr-x---"))
    assert(stock.exists { case (p, perm) => p.endsWith(".parquet") && perm == "rw-r-----" })
  }

  test("LocalFs round-trips a directory mode with the sticky bit") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft_sticky")
    val dir = new Path(local.toString)
    Seq("1750", "0750", "1777", "0701").foreach { octal =>
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      fs.setPermission(dir, perm)
      val mode = Files.getAttribute(local, "unix:mode").asInstanceOf[Int]
      assert((mode & 0xfff) == perm.toShort, octal)
      assert(fs.getFileStatus(dir).getPermission == perm, octal)
    }
  }
}

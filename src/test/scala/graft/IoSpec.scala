package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.ParquetSink

class IoSpec extends SparkSpec {

  test("dynamic partition overwrite replaces only touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dpo").toString + "/t"
    val v1 = Seq((1, "a", 10), (2, "a", 20), (3, "b", 30))
      .toDF("id", "gp", "v")
    ParquetSink.overwrite(v1, dir, Seq("gp"))
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

  test("writeSorted clusters by range and sorts within files; compact merges small files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.input_file_name
    val dir = Files.createTempDirectory("graft_layout").toString
    val df = (1 to 1000).map(i => (i * 37 % 1000, s"v$i")).toDF("k", "v")
    ParquetSink.writeSorted(df, s"$dir/sorted", Seq("k"), nFiles = 4)
    // each file holds a sorted, non-overlapping key range
    val perFile = spark.read.parquet(s"$dir/sorted")
      .select(col("k"), input_file_name().as("f"))
      .collect().groupBy(_.getAs[String]("f"))
      .view.mapValues(_.map(_.getAs[Int]("k")).toSeq).toMap
    assert(perFile.size > 1)
    perFile.values.foreach(ks => assert(ks == ks.sorted, "file not sorted"))
    val ranges = perFile.values.map(ks => (ks.min, ks.max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "overlapping ranges")
      case _ =>
    }

    // many tiny appends → compact to few files, same content
    val tiny = s"$dir/tiny"
    (1 to 8).foreach(i => Seq((i, i.toString)).toDF("k", "v")
      .write.mode("append").parquet(tiny))
    val before = spark.read.parquet(tiny).inputFiles.length
    ParquetSink.compact(spark, tiny)
    val after = spark.read.parquet(tiny)
    assert(before == 8 && after.inputFiles.length < before)
    assert(after.count() == 8)
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

  test("append adds rows; atomicRewrite swaps table derived from itself") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ar").toString + "/t"
    ParquetSink.overwrite(Seq((1, 1.0), (2, 2.0)).toDF("id", "v"), dir)
    ParquetSink.append(Seq((3, 3.0)).toDF("id", "v"), dir)
    val t = spark.read.parquet(dir)
    assert(t.count() == 3)
    // derive from the table itself and rewrite in place
    ParquetSink.atomicRewrite(t.filter(col("id") =!= 2), dir)
    val back = spark.read.parquet(dir).select("id").collect()
      .map(_.getInt(0)).toSet
    assert(back == Set(1, 3))
  }

  test("conform reorders columns to declared schema") {
    import spark.implicits._
    val df = Seq((1.0, "x", 5)).toDF("b", "c", "a")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.StringType)))
    assert(ParquetSink.conform(df, schema).columns.toSeq ==
      Seq("a", "b", "c"))
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
}

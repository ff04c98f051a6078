package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.silver.SilverTransforms
import graft.core.Tables
import graft.sources.BronzeReader

class SourcesSpec extends SparkSpec {

  /** Bronze with schema drift: bahrain 2024 has the base columns, monaco
    * 2024 adds `fastest_lap`, imola 2025 lacks `points`; plus `_SUCCESS`,
    * `.crc` and a `_temporary` directory whose files carry a `junk`
    * column, all of which schema inference must skip. */
  private lazy val driftRoot: String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_drift").toString + "/laps"
    def land(df: DataFrame): Unit =
      df.write.mode("append").partitionBy("year", "grand_prix").parquet(root)
    land(Seq((101L, 1, 1, 25.0, 2024, "bahrain"), (101L, 44, 2, 18.0, 2024, "bahrain"))
      .toDF("session_key", "driver_number", "position", "points", "year", "grand_prix"))
    land(Seq((102L, 1, 1, 25.0, 71.5, 2024, "monaco"))
      .toDF("session_key", "driver_number", "position", "points", "fastest_lap",
        "year", "grand_prix"))
    land(Seq((201L, 16, 1, 2025, "imola"))
      .toDF("session_key", "driver_number", "position", "year", "grand_prix"))
    Seq(("x", 1)).toDF("junk", "position").write
      .parquet(s"$root/year=2024/grand_prix=bahrain/_temporary/0")
    Seq(("x", 1)).toDF("junk", "position").write.parquet(s"$root/_temporary/0")
    assert(Files.exists(Paths.get(s"$root/_SUCCESS")))
    root
  }

  /** Spark's own merged inference over the selected directories: the
    * independent oracle for [[BronzeReader.read]]'s schema and rows. */
  private def oracle(dirs: String*): DataFrame =
    spark.read.option("basePath", driftRoot).option("mergeSchema", "true")
      .parquet(dirs.map(d => s"$driftRoot/$d"): _*)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  private val selections = Seq(
    (Some(2024), Some("monaco"), Seq("year=2024/grand_prix=monaco")),
    (Some(2024), Some("bahrain"), Seq("year=2024/grand_prix=bahrain")),
    (Some(2025), Some("imola"), Seq("year=2025/grand_prix=imola")),
    (Some(2024), None, Seq("year=2024")),
    (None, Some("imola"), Seq("year=2025/grand_prix=imola")),
    (None, None, Seq("")))

  test("bronze read merges the selected partitions' footers like Spark, no job") {
    val root = driftRoot
    selections.foreach { case (year, gp, dirs) =>
      val (read, jobs) = jobsDuring(BronzeReader.read(spark, root, year, gp))
      val want = oracle(dirs: _*)
      assert(jobs == 0, s"$year/$gp: schema inference ran $jobs jobs")
      assert(read.schema == want.schema, s"$year/$gp")
      assert(rows(read) == rows(want), s"$year/$gp")
    }
    // the merge covers the selection, not the table
    val monaco = BronzeReader.read(spark, driftRoot, Some(2024), Some("monaco"))
    assert(monaco.columns.toSeq == Seq("session_key", "driver_number",
      "position", "points", "fastest_lap", "year", "grand_prix"))
    assert(!BronzeReader.read(spark, driftRoot, Some(2025), Some("imola"))
      .columns.contains("points"))
  }

  test("bronze read adds no job to Spark's own listing above its listing threshold") {
    val root = driftRoot
    withConf("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1") {
      // above the threshold Spark's file index lists in a job of its own
      val (_, listing) = jobsDuring(spark.read.schema("session_key long").parquet(root))
      assert(listing >= 1)
      Seq(selections(3), selections(5)).foreach { case (year, gp, dirs) =>
        val (read, jobs) = jobsDuring(BronzeReader.read(spark, root, year, gp))
        assert(jobs == listing, s"$year/$gp")
        assert(read.schema == oracle(dirs: _*).schema, s"$year/$gp")
      }
    }
  }

  test("bronze read of weekends whose column types conflict fails as Spark does") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_conflict").toString + "/laps"
    Seq((101L, 1, 2024, "bahrain")).toDF("session_key", "position", "year", "grand_prix")
      .write.partitionBy("year", "grand_prix").parquet(root)
    Seq((102L, "P1", 2024, "monaco")).toDF("session_key", "position", "year", "grand_prix")
      .write.mode("append").partitionBy("year", "grand_prix").parquet(root)
    val ours = intercept[SparkException](BronzeReader.read(spark, root))
    val sparks = intercept[SparkException](
      spark.read.option("mergeSchema", "true").parquet(root))
    assert(ours.getCondition == "CANNOT_MERGE_SCHEMAS")
    assert(ours.getCondition == sparks.getCondition)
    assert(ours.getMessage == sparks.getMessage)
    // one weekend alone has no conflict
    assert(BronzeReader.read(spark, root, Some(2024), Some("monaco"))
      .schema("position").dataType == StringType)
  }

  test("silver over a weekend that lacks a column it reads fails at analysis, as the reference does") {
    import spark.implicits._
    import graft.core.F1Fixtures.raceRows
    val root = Files.createTempDirectory("graft_silver_drift").toString + "/session_result"
    val all = raceRows.toDF()
    val imola = all.filter($"grand_prix" === "emilia_romagna").drop("points")
    Seq(all.filter($"grand_prix" =!= "emilia_romagna"), imola).foreach(
      _.write.mode("append").partitionBy("year", "grand_prix").parquet(root))
    // the whole table still carries `points`, null for the drifted weekend
    val whole = SilverTransforms.raceResults(BronzeReader.read(spark, root))
    assert(whole.filter($"grand_prix_name" === "emilia_romagna" && $"points".isNull)
      .count() == 2)
    // a refresh of that weekend alone does not: Spark's read of its
    // directory, as the reference makes it, fails the same way
    val ours = intercept[AnalysisException](SilverTransforms.raceResults(
      BronzeReader.read(spark, root, Some(2025), Some("emilia_romagna"))))
    val reference = intercept[AnalysisException](SilverTransforms.raceResults(
      spark.read.option("basePath", root).option("mergeSchema", "true")
        .parquet(s"$root/year=2025/grand_prix=emilia_romagna")))
    assert(ours.getCondition.startsWith("UNRESOLVED_COLUMN"))
    assert(ours.getCondition == reference.getCondition)
    assert(ours.getMessageParameters.get("objectName") == "`points`")
    assert(ours.getMessageParameters == reference.getMessageParameters)
  }

  test("bronze read of an empty selection takes the whole table's schema") {
    val whole = spark.read.option("mergeSchema", "true").parquet(driftRoot)
    Seq((Some(1999), None), (Some(2025), Some("monaco")), (None, Some("nowhere")))
      .foreach { case (year, gp) =>
        val read = BronzeReader.read(spark, driftRoot, year, gp)
        assert(read.schema == whole.schema, s"$year/$gp")
        assert(read.count() == 0, s"$year/$gp")
      }
  }

  test("bronze read takes summary files as Spark's inference does") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_summary").toString + "/drivers"
    // Parquet's committer fails to summarize files whose schemas differ,
    // so the summarized file is written apart and moved in
    val apart = Files.createTempDirectory("graft_summary_apart").toString
    Seq(101L).toDF("session_key").write.parquet(root)
    withConf("parquet.summary.metadata.level" -> "ALL") {
      Seq((102L, 71.5)).toDF("session_key", "fastest_lap").write
        .mode("overwrite").parquet(apart)
    }
    // the summarized file sorts after the first one
    new java.io.File(apart).listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") || n.endsWith("metadata"))
      .foreach(n => Files.move(Paths.get(s"$apart/$n"),
        Paths.get(s"$root/${if (n.startsWith("part-")) "part-99999.parquet" else n}")))
    assert(Files.exists(Paths.get(s"$root/_common_metadata")))
    // without mergeSchema (Tables.parquet) Spark takes the summary, not
    // the first file
    assert(Tables.parquet(spark, root).columns.toSeq ==
      Seq("session_key", "fastest_lap"))
    Seq(true, false).foreach { merge =>
      val (read, jobs) = jobsDuring(
        if (merge) BronzeReader.read(spark, root) else Tables.parquet(spark, root))
      val want = spark.read.option("mergeSchema", merge.toString).parquet(root)
      assert(jobs == 0, s"mergeSchema=$merge")
      assert(read.schema == want.schema, s"mergeSchema=$merge")
    }
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{F1Fixtures, Tables}
import graft.gold.GoldTransforms
import graft.io.{ParquetSink, Scd2}
import graft.silver.SilverTransforms

/** End-to-end medallion pipeline demo on the mini F1 season: bronze-shaped
  * frames → silver transforms → partitioned writes (dynamic partition
  * overwrite) → SCD2 merge → gold transforms → summary. This is the
  * HISTORICAL-then-INCREMENTAL flow of the reference (two Airflow DAGs +
  * two Glue jobs, SURVEY.md §3) collapsed into one Spark app.
  */
object F1Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(appName = "graft-f1-demo")
    import spark.implicits._

    val warehouse = args.headOption.getOrElse(
      Files.createTempDirectory("graft_f1_wh").toString)
    println(s"[f1demo] warehouse=$warehouse")

    // ---- land race bronze as a partitioned layer, read it back through
    //      the pruned-scan path (A3: declarative filters → partition
    //      pruning, instead of the reference's path-string pruning) ----
    F1Fixtures.raceRows.toDF()
      .write.mode("overwrite").partitionBy("year", "grand_prix")
      .parquet(s"$warehouse/bronze_race")
    val raceBronze = graft.sources.BronzeReader.read(spark,
      s"$warehouse/bronze_race", year = Some(2025))

    // ---- bronze → silver ----
    val sessions = SilverTransforms.sessions(F1Fixtures.sessionRows.toDF())
    val quali = SilverTransforms.qualifying(F1Fixtures.qualiRows.toDF())
    val race = SilverTransforms.raceResults(raceBronze)
    val laps = SilverTransforms.laps(F1Fixtures.lapRows.toDF())
    val pits = SilverTransforms.pitstops(F1Fixtures.pitRows.toDF())

    // facts land partitioned by (year, grand_prix_name); re-running a GP
    // replaces exactly its partitions (idempotent INCREMENTAL semantics).
    // Validation counters ride the write via observe() — the reference's
    // count() gates as free in-flight metrics (SURVEY §2.D7).
    Seq("sessions_silver" -> sessions, "qualifying_results_silver" -> quali,
      "race_results_silver" -> race, "laps_silver" -> laps,
      "pitstops_silver" -> pits).foreach { case (name, df) =>
      val (observed, gate) = graft.io.PipelineMetrics.observed(
        df, s"${name}_gate", Seq("session_key"))
      ParquetSink.overwritePartitions(observed, s"$warehouse/$name",
        Seq("year", "grand_prix_name"))
      println(s"[f1demo] $name rows=${gate.get("n_rows")} " +
        s"null_keys=${gate.get("null_session_key")}")
    }

    // laps also land bucketed by session_key: repeated joins/aggs on the
    // session key then read co-located buckets with no exchange
    spark.sql("DROP TABLE IF EXISTS laps_bucketed")
    ParquetSink.writeBucketed(laps, "laps_bucketed", "session_key", 4)
    println("[f1demo] laps_bucketed rows=" +
      spark.table("laps_bucketed").count())

    // ---- drivers SCD2: historical build on weekends 1-2, then merge
    //      weekend 3 (team change) incrementally ----
    val obs = F1Fixtures.driverObs
    val dimPath = s"$warehouse/drivers_silver"
    val historical = Scd2.buildHistorical(
      obs.filter(_.session_key < 300).toDF())
    ParquetSink.atomicRewrite(historical, dimPath)
    // raceHistory = all observations to date, so total_races grows even
    // for drivers whose team did not change (reference common.py:526-546)
    val merged = Scd2.merge(Tables.parquet(spark, dimPath),
      obs.filter(_.session_key >= 300).toDF(), Some(obs.toDF()))
    ParquetSink.atomicRewrite(merged, dimPath)
    val drivers = Tables.parquet(spark, dimPath)

    // ---- silver → gold (reading silver back from the warehouse) ----
    val sSessions = Tables.parquet(spark, s"$warehouse/sessions_silver")
    val sQuali = Tables.parquet(spark, s"$warehouse/qualifying_results_silver")
    val sRace = Tables.parquet(spark, s"$warehouse/race_results_silver")

    val gold = Map(
      "championship_tracker" ->
        GoldTransforms.championshipTracker(sSessions, sRace, drivers),
      "driver_performance_summary_qualifying" ->
        GoldTransforms.driverPerformanceQualifying(sSessions, sQuali, drivers),
      "driver_performance_summary_race" ->
        GoldTransforms.driverPerformanceRace(sSessions, sRace, drivers),
      "race_weekend_insights" ->
        GoldTransforms.raceWeekendInsights(sSessions, sQuali, sRace, drivers))

    gold.foreach { case (name, df) =>
      ParquetSink.overwrite(df, s"$warehouse/$name")
      println(s"[f1demo] $name rows=" +
        Tables.parquet(spark, s"$warehouse/$name").count())
    }
    println("[f1demo] standings after the finale:")
    Tables.parquet(spark, s"$warehouse/championship_tracker")
      .filter(col("round_number") === 3)
      .orderBy("championship_position")
      .select("championship_position", "full_name", "team_name",
        "season_points_total", "points_gap_to_leader")
      .show(truncate = false)
    spark.stop()
  }
}

package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DateType}

import graft.functions.Audit
import graft.functions.F1Functions._
import graft.gold.WindowOps._

/** Silver → Gold transforms (SURVEY.md §1.4 Gold inventory). Inputs are
  * the Silver DataFrames; the drivers dimension is joined with an explicit
  * `broadcast` hint — it is tens of rows against thousands-to-millions of
  * fact rows (the reference's broadcast policy engine,
  * `utils/analytics/broadcast_utils.py:35-56` in /root/reference, reduces
  * to "always broadcast dims" here; AQE handles the rest at runtime).
  *
  * All running aggregations order by (race_date, round_number) with
  * explicit key tie-breaks; ranks break ties by driver_number
  * (window_functions.py:117).
  */
object GoldTransforms {

  /** Current-row driver attributes for joining onto facts. */
  private def currentDrivers(drivers: DataFrame): DataFrame =
    broadcast(drivers.filter(col("is_current") === true)
      .select(col("driver_number"), col("full_name"), col("team_name")))

  /** Race sessions keyed for fact joins: (session_key, race_date, year,
    * grand_prix_name, round_number). */
  private def raceSessions(sessions: DataFrame,
                           sessionType: String): DataFrame = {
    val s = sessions
      .filter(lower(col("session_type")) === sessionType)
      .select(col("session_key"), col("date_start").cast(DateType)
          .as("race_date"),
        col("year"), col("grand_prix_name"))
    s.withColumn("round_number",
      roundNumber(col("year"), col("race_date")).cast("int"))
  }

  /** driver_performance_summary_qualifying
    * (driver_performance_summary_qualifying_transform.py:206-325): per
    * (session, driver) qualifying line with gap to pole in seconds
    * (clamped ≥0) and the running season average position. */
  def driverPerformanceQualifying(sessions: DataFrame, qualifying: DataFrame,
                                  drivers: DataFrame): DataFrame = {
    val base = qualifying.drop("year", "grand_prix_name")
      .join(raceSessions(sessions, "qualifying"), Seq("session_key"))
      .join(currentDrivers(drivers), Seq("driver_number"))
    val seasonAvg = runningAvg(col("qualifying_position").cast("double"),
      Seq(col("driver_number"), col("year")),
      Seq(col("race_date"), col("round_number")))
    Audit.stamped(base
      .withColumn("qualifying_position", col("position"))
      .withColumn("gap_to_pole_seconds",
        gapClampNonNegative(col("gap_to_pole_millis") / 1000.0)
          .cast(DecimalType(5, 3)))
      .withColumn("made_q3", madeQ3(col("position")))
      .withColumn("season_avg_qualifying_position",
        seasonAvg.cast(DecimalType(4, 1)))
      .select("session_key", "driver_number", "full_name", "team_name",
        "race_date", "round_number", "qualifying_position",
        "gap_to_pole_seconds", "made_q3",
        "season_avg_qualifying_position", "year", "grand_prix_name"))
  }

  /** Race lines: one row per (race session, current driver) with the
    * race's points and the running season total. The base of both
    * [[driverPerformanceRace]] and [[championshipTracker]]. */
  private def raceLines(sessions: DataFrame, raceResults: DataFrame,
                        drivers: DataFrame): DataFrame =
    raceResults.drop("year", "grand_prix_name")
      .join(raceSessions(sessions, "race"), Seq("session_key"))
      .join(currentDrivers(drivers), Seq("driver_number"))
      .withColumn("race_points",
        coalesce(col("validated_points"), col("points"), lit(0.0)))
      .withColumn("season_points_total",
        runningTotal(col("race_points"),
          Seq(col("driver_number"), col("year")),
          Seq(col("race_date"), col("round_number"))))

  /** driver_performance_summary_race
    * (driver_performance_summary_race_transform.py:206-335): per
    * (session, driver) race line with running season points. */
  def driverPerformanceRace(sessions: DataFrame, raceResults: DataFrame,
                            drivers: DataFrame): DataFrame =
    Audit.stamped(raceLines(sessions, raceResults, drivers)
      .withColumn("finish_position", col("position"))
      .select("session_key", "driver_number", "full_name", "team_name",
        "race_date", "round_number", "grid_position", "finish_position",
        "race_points", "positions_gained", "season_points_total",
        "year", "grand_prix_name"))

  /** championship_tracker (championship_tracker_transform.py:170-353):
    * cumulative standings after every race — running points, rank with
    * driver_number tie-break, gap to the leader. Recomputed from scratch
    * each run (prefix sums need the whole season — SURVEY §2.I). */
  def championshipTracker(sessions: DataFrame, raceResults: DataFrame,
                          drivers: DataFrame): DataFrame =
    Audit.stamped(raceLines(sessions, raceResults, drivers)
      .withColumn("championship_position",
        rankWithTieBreak(Seq(col("year"), col("race_date")),
          col("season_points_total"), col("driver_number")).cast("int"))
      .withColumn("points_gap_to_leader",
        gapToLeader(col("season_points_total"),
          Seq(col("year"), col("race_date"))))
      .select("race_date", "round_number", "driver_number", "full_name",
        "team_name", "race_points", "season_points_total",
        "championship_position", "points_gap_to_leader", "year",
        "grand_prix_name"))

  /** race_weekend_insights (race_weekend_insights_transform.py:170-395):
    * one row per race weekend — pole sitter, winner, pole-to-win flag,
    * finisher/DNF counts. */
  def raceWeekendInsights(sessions: DataFrame, qualifying: DataFrame,
                          raceResults: DataFrame,
                          drivers: DataFrame): DataFrame = {
    val dims = currentDrivers(drivers)
    val races = raceSessions(sessions, "race")
    val qualiSessions = raceSessions(sessions, "qualifying")
      .select(col("session_key"), col("year"), col("grand_prix_name"))

    val weekends = races
      .select("year", "grand_prix_name", "race_date").distinct()

    val pole = qualifying.drop("year", "grand_prix_name")
      .filter(col("position") === 1)
      .join(qualiSessions, Seq("session_key"))
      .join(dims, Seq("driver_number"))
      .select(col("year"), col("grand_prix_name"),
        col("full_name").as("pole_position_driver"))

    val winner = raceResults.drop("year", "grand_prix_name")
      .filter(col("position") === 1)
      .join(races.select("session_key", "year", "grand_prix_name"),
        Seq("session_key"))
      .join(dims, Seq("driver_number"))
      .select(col("year"), col("grand_prix_name"),
        col("full_name").as("race_winner_driver"),
        col("team_name").as("race_winner_team"))

    val stats = raceResults.drop("year", "grand_prix_name")
      .join(races.select("session_key", "year", "grand_prix_name"),
        Seq("session_key"))
      .groupBy("year", "grand_prix_name")
      .agg(
        count(when(col("position").between(1, 20), 1)).cast("int")
          .as("total_finishers"),
        count(when(col("standardized_status") === "DNF", 1)).cast("int")
          .as("dnf_count"))

    // one row per weekend on every side: broadcast them, or AQE plans
    // sort-merge joins, runs their shuffles and only then demotes them
    Audit.stamped(weekends
      .join(broadcast(pole), Seq("year", "grand_prix_name"), "left")
      .join(broadcast(winner), Seq("year", "grand_prix_name"), "left")
      .join(broadcast(stats), Seq("year", "grand_prix_name"), "left")
      .withColumn("pole_to_win",
        coalesce(col("pole_position_driver").isNotNull &&
          col("pole_position_driver") === col("race_winner_driver"),
          lit(false)))
      .select("year", "grand_prix_name", "race_date",
        "pole_position_driver", "race_winner_driver", "race_winner_team",
        "pole_to_win", "total_finishers", "dnf_count"))
  }
}

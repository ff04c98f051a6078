package graft.silver

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.Audit
import graft.functions.F1Functions._

/** Bronze → Silver transforms, one per Silver table (SURVEY.md §1.4).
  * Each takes the bronze-shaped DataFrame (already scanned, with partition
  * columns `year`/`grand_prix` present) and returns the Silver projection.
  * Path handling, partition pruning, and writes live in graft.io — the
  * transforms stay pure DataFrame → DataFrame so tests run on in-memory
  * fixtures.
  *
  * Reference: the silver transform modules under
  * `src/jobs/transforms/silver/` in /root/reference; the
  * reference's per-transform pipelines (scan → clean/cast → derive →
  * window → project) are described operator-by-operator in SURVEY.md §2.
  */
object SilverTransforms {

  /** Sessions: distinct session rows extracted from per-driver
    * session_result dumps (sessions_transform.py:135-248). */
  def sessions(sessionResult: DataFrame): DataFrame = {
    val distinctSessions = sessionResult
      .select("session_key", "session_type", "meeting_key", "meeting_name",
        "date_start", "date_end", "year")
      .distinct()
    Audit.stamped(distinctSessions
      // descriptive name mapping (sessions_transform.py:213-219)
      .withColumn("session_name",
        when(lower(col("session_type")) === "qualifying",
          "Qualifying Session")
          .when(lower(col("session_type")) === "race", "Race Session")
          .otherwise(col("session_type")))
      .withColumn("grand_prix_name", normalizeGrandPrix(col("meeting_name")))
      .withColumn("session_duration_minutes",
        ((unix_timestamp(col("date_end")) -
          unix_timestamp(col("date_start"))) / 60.0).cast("int"))
      // the reference detects sprints on the RAW meeting name
      // (sessions_transform.py:230-233); detectSprintWeekend normalizes
      // internally so the location list matches either form
      .withColumn("is_sprint_weekend",
        detectSprintWeekend(col("meeting_name"), col("meeting_name")))
      .select(
        col("session_key").cast(LongType),
        lower(col("session_type")).as("session_type"),
        col("session_name"),
        col("meeting_key").cast(LongType),
        col("grand_prix_name"),
        col("date_start"), col("date_end"),
        col("year").cast("int"),
        col("session_duration_minutes"),
        col("is_sprint_weekend"))
      .filter(col("session_key").isNotNull))
  }

  /** Qualifying: parse the [Q1,Q2,Q3] seconds array into per-segment
    * millis, derive fastest time, gap to pole, and elimination status
    * (qualifying_transform.py:134-281). */
  def qualifying(sessionResult: DataFrame): DataFrame = {
    def seg(k: Int) =
      when(size(col("duration")) >= k,
        secondsToMillis(element_at(col("duration"), k)))
        .otherwise(lit(null).cast(LongType))
    val parsed = sessionResult
      .filter(lower(col("session_type")) === "qualifying")
      .withColumn("q1_time_millis", seg(1))
      .withColumn("q2_time_millis", seg(2))
      .withColumn("q3_time_millis", seg(3))
      .withColumn("fastest_qualifying_time_millis",
        coalesce(col("q3_time_millis"), col("q2_time_millis"),
          col("q1_time_millis")))
    val pole = Window.partitionBy(col("session_key"))
    Audit.stamped(parsed
      .withColumn("gap_to_pole_millis",
        col("fastest_qualifying_time_millis") -
          min(col("fastest_qualifying_time_millis")).over(pole))
      .withColumn("qualifying_status", {
        // reference ladder (qualifying_transform.py:240-248): DSQ/DNS
        // flags first when the bronze feed carries them, then the
        // furthest session reached, else DNQ
        val reached = when(col("q3_time_millis").isNotNull, "Q3")
          .when(col("q2_time_millis").isNotNull, "Q2-OUT")
          .when(col("q1_time_millis").isNotNull, "Q1-OUT")
          .otherwise("DNQ")
        val cols = parsed.columns
        val withDns = if (cols.contains("dns"))
          when(col("dns") === true, "DNS").otherwise(reached) else reached
        if (cols.contains("dsq"))
          when(col("dsq") === true, "DSQ").otherwise(withDns) else withDns
      })
      .select(
        col("session_key").cast(LongType),
        col("driver_number").cast("int"),
        col("position").cast("int"),
        col("q1_time_millis"), col("q2_time_millis"), col("q3_time_millis"),
        col("fastest_qualifying_time_millis"),
        col("gap_to_pole_millis"),
        col("qualifying_status"),
        col("year").cast("int"),
        col("grand_prix").as("grand_prix_name"))
      .filter(col("session_key").isNotNull &&
        col("driver_number").isNotNull))
  }

  /** Race results: recompute the points ladder as validated_points
    * (keeping raw API points for comparison), positions gained, formatted
    * race time, standardized status
    * (race_results_transform.py:133-327). */
  def raceResults(sessionResult: DataFrame): DataFrame = {
    val raced = sessionResult
      .filter(lower(col("session_type")) === "race")
      .withColumn("validated_points",
        pointsForPosition(col("position")).cast("double"))
      .withColumn("positions_gained",
        positionsGained(col("grid_position"), col("position")))
      .withColumn("gap_to_winner_millis",
        when(col("gap_to_leader").isNotNull,
          secondsToMillis(col("gap_to_leader"))))
      .withColumn("race_time_millis",
        when(col("duration").isNotNull, secondsToMillis(col("duration"))))
      .withColumn("time",
        when(col("race_time_millis").isNotNull,
          formatRaceTimeMillis(col("race_time_millis"))))
      .withColumn("raw_status",
        when(col("dsq") === true, "disqualified")
          .when(col("dns") === true, "did not start")
          .when(col("dnf") === true, "dnf")
          .when(col("position").isNotNull, "finished")
          .otherwise("unknown"))
    Audit.stamped(raced
      .withColumn("standardized_status", standardizeStatus(col("raw_status")))
      .select(
        col("session_key").cast(LongType),
        col("driver_number").cast("int"),
        col("position").cast("int"),
        col("grid_position").cast("int"),
        col("points").cast("double"),
        col("validated_points"),
        col("positions_gained").cast("int"),
        col("time"),
        col("gap_to_winner_millis"),
        col("raw_status").as("status"),
        col("standardized_status"),
        col("year").cast("int"),
        col("grand_prix").as("grand_prix_name"))
      .filter(col("session_key").isNotNull &&
        col("driver_number").isNotNull))
  }

  /** Laps: millis from lap_duration with sector-sum fallback, formatted
    * time, personal-best and fastest-lap flags with deterministic
    * tie-breaking (laps_transform.py:126-320). */
  def laps(lapsBronze: DataFrame): DataFrame = {
    val base = lapsBronze
      .drop("segments_sector_1", "segments_sector_2", "segments_sector_3")
      .withColumn("lap_seconds",
        coalesce(col("lap_duration"),
          col("duration_sector_1") + col("duration_sector_2") +
            col("duration_sector_3")))
      .withColumn("lap_time_millis", secondsToMillis(col("lap_seconds")))
      .filter(col("lap_time_millis").isNotNull)
    val perDriver = Window.partitionBy(col("session_key"), col("driver_number"))
    val perSession = Window.partitionBy(col("session_key"))
    val fastestTie = Window
      .partitionBy(col("session_key"), col("lap_time_millis"))
      .orderBy(col("driver_number").asc, col("lap_number").asc)
    Audit.stamped(base
      .withColumn("is_personal_best",
        col("lap_time_millis") === min(col("lap_time_millis")).over(perDriver))
      .withColumn("is_session_min",
        col("lap_time_millis") === min(col("lap_time_millis")).over(perSession))
      .withColumn("tie_rank", row_number().over(fastestTie))
      .withColumn("is_fastest_lap",
        col("is_session_min") && col("tie_rank") === 1)
      .withColumn("lap_time", formatLapTimeMillis(col("lap_time_millis")))
      .select(
        col("session_key").cast(LongType),
        col("driver_number").cast("int"),
        col("lap_number").cast("int"),
        col("lap_time"),
        col("lap_time_millis"),
        col("position_at_lap").cast("int"),
        col("gap_to_leader_millis").cast(LongType),
        col("interval_to_ahead_millis").cast(LongType),
        col("is_personal_best"),
        col("is_fastest_lap"),
        col("tire_compound"),
        col("track_status"),
        col("year").cast("int"),
        col("grand_prix").as("grand_prix_name"),
        col("session_type"))
      .filter(col("session_key").isNotNull &&
        col("driver_number").isNotNull && col("lap_number").isNotNull))
  }

  /** Pitstops: validity range filter (0 < duration < 999 s), DECIMAL(6,3)
    * seconds, compound change passthrough
    * (pitstops_transform.py:121-275). */
  def pitstops(pitBronze: DataFrame): DataFrame = {
    Audit.stamped(pitBronze
      .filter(col("pit_duration").isNotNull &&
        col("pit_duration") > 0 && col("pit_duration") < 999000)
      .withColumn("pit_duration_s",
        (col("pit_duration") / 1000.0).cast(DecimalType(6, 3)))
      .select(
        col("session_key").cast(LongType),
        col("driver_number").cast("int"),
        col("lap_number").cast("int"),
        col("pit_duration_s").as("pit_duration"),
        coalesce(col("positions_lost_gained"), lit(0)).cast("int")
          .as("positions_lost_gained"),
        coalesce(col("undercut_attempt"), lit(false))
          .as("undercut_attempt"),
        coalesce(col("safety_car_stop"), lit(false))
          .as("safety_car_stop"),
        col("tire_compound_old"),
        col("tire_compound_new"),
        col("year").cast("int"),
        col("grand_prix").as("grand_prix_name"))
      .filter(col("session_key").isNotNull &&
        col("driver_number").isNotNull))
  }
}

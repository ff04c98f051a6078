package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.TimestampType

import graft.functions.{Audit, AuditTime}
import graft.gold.GoldTransforms
import graft.io.Scd2
import graft.silver.SilverTransforms

/** The audit-time kernel ([[AuditTime]]) and the audit columns it fills. */
class AuditSpec extends SparkSpec {

  test("audit time: interpreted eval and generated code agree") {
    val t = Audit.now()
    val micros = ColumnBridge.expr(t).asInstanceOf[AuditTime].micros
    val want = DateTimeUtils.toJavaTimestamp(micros)
    def run(): Seq[java.sql.Timestamp] = {
      val df = spark.range(3).select(t.as("t"))
      // not folded into a literal: the kernel itself reaches execution
      assert(df.queryExecution.optimizedPlan.expressions
        .exists(_.exists(_.isInstanceOf[AuditTime])))
      df.collect().map(_.getTimestamp(0)).toSeq
    }
    val interpreted = withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    val generated = run()
    assert(interpreted == Seq.fill(3)(want))
    assert(generated == Seq.fill(3)(want))
    // and each path called directly, whatever the confs select
    val e = AuditTime(micros)
    assert(GenerateUnsafeProjection.generate(Seq(e))
      .apply(InternalRow.empty).getLong(0) == micros)
    assert(InterpretedUnsafeProjection.createProjection(Seq(e))
      .apply(InternalRow.empty).getLong(0) == micros)
  }

  test("audit columns: created_at equals updated_at, non-null timestamps") {
    AuditSpec.outputs(spark).foreach { case (name, df) =>
      Seq("created_at", "updated_at").foreach { c =>
        val f = df.schema(c)
        assert(f.dataType == TimestampType && !f.nullable, s"$name.$c: $f")
      }
      val rows = df.select("created_at", "updated_at", "*").collect()
      assert(rows.nonEmpty, name)
      if (name == "merge") {
        // a closed row keeps its created_at and takes the merge's time as
        // updated_at; the row the merge inserts (#44 joins Ferrari) carries
        // that same time in both columns
        val closed = rows.filter(r => r.get(0) != r.get(1))
        assert(closed.nonEmpty && closed.forall(r =>
          !r.getAs[Boolean]("is_current") &&
            r.getTimestamp(0).before(r.getTimestamp(1))))
        val mergeTime = closed.map(_.getTimestamp(1)).distinct.toSeq
        assert(mergeTime.size == 1)
        assert(rows.count(_.getTimestamp(0) == mergeTime.head) == 1)
      } else {
        assert(rows.forall(r => r.get(0) != null && r.get(0) == r.get(1)),
          name)
      }
    }
  }

  test("silver, SCD2 and gold output schemas are unchanged") {
    AuditSpec.outputs(spark).foreach { case (name, df) =>
      assert(df.schema.toDDL == AuditSpec.schemas(name), name)
    }
  }
}

object AuditSpec {
  import graft.core.F1Fixtures._

  /** Every silver, SCD2 and gold output over the mini season, by name. */
  def outputs(spark: SparkSession): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val sessions = SilverTransforms.sessions(sessionRows.toDF())
    val quali = SilverTransforms.qualifying(qualiRows.toDF())
    val race = SilverTransforms.raceResults(raceRows.toDF())
    val drivers = Scd2.buildHistorical(driverObs.toDF())
    val (before, batch) = driverObs.partition(_.session_key < 300)
    Seq(
      "sessions" -> sessions,
      "qualifying" -> quali,
      "raceResults" -> race,
      "laps" -> SilverTransforms.laps(lapRows.toDF()),
      "pitstops" -> SilverTransforms.pitstops(pitRows.toDF()),
      "buildHistorical" -> drivers,
      "merge" -> Scd2.merge(Scd2.buildHistorical(before.toDF()), batch.toDF(),
        Some(driverObs.toDF())),
      "driverPerformanceQualifying" ->
        GoldTransforms.driverPerformanceQualifying(sessions, quali, drivers),
      "driverPerformanceRace" ->
        GoldTransforms.driverPerformanceRace(sessions, race, drivers),
      "raceWeekendInsights" ->
        GoldTransforms.raceWeekendInsights(sessions, quali, race, drivers),
      "championshipTracker" ->
        GoldTransforms.championshipTracker(sessions, race, drivers))
  }

  /** [[outputs]]' schemas as the `current_timestamp()` audit columns left
    * them, nullability included. */
  val schemas: Map[String, String] = Map(
    "sessions" ->
      ("session_key BIGINT NOT NULL,session_type STRING," +
       "session_name STRING,meeting_key BIGINT NOT NULL," +
       "grand_prix_name STRING,date_start TIMESTAMP," +
       "date_end TIMESTAMP,year INT NOT NULL," +
       "session_duration_minutes INT," +
       "is_sprint_weekend BOOLEAN NOT NULL," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "qualifying" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "position INT,q1_time_millis BIGINT,q2_time_millis BIGINT," +
       "q3_time_millis BIGINT,fastest_qualifying_time_millis BIGINT," +
       "gap_to_pole_millis BIGINT,qualifying_status STRING NOT NULL," +
       "year INT NOT NULL,grand_prix_name STRING," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "raceResults" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "position INT,grid_position INT,points DOUBLE," +
       "validated_points DOUBLE NOT NULL,positions_gained INT," +
       "time STRING,gap_to_winner_millis BIGINT," +
       "status STRING NOT NULL,standardized_status STRING NOT NULL," +
       "year INT NOT NULL,grand_prix_name STRING," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "laps" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "lap_number INT NOT NULL,lap_time STRING," +
       "lap_time_millis BIGINT,position_at_lap INT," +
       "gap_to_leader_millis BIGINT,interval_to_ahead_millis BIGINT," +
       "is_personal_best BOOLEAN,is_fastest_lap BOOLEAN," +
       "tire_compound STRING,track_status STRING,year INT NOT NULL," +
       "grand_prix_name STRING,session_type STRING," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "pitstops" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "lap_number INT NOT NULL,pit_duration DECIMAL(6,3)," +
       "positions_lost_gained INT NOT NULL," +
       "undercut_attempt BOOLEAN NOT NULL," +
       "safety_car_stop BOOLEAN NOT NULL,tire_compound_old STRING," +
       "tire_compound_new STRING,year INT NOT NULL," +
       "grand_prix_name STRING,created_at TIMESTAMP NOT NULL," +
       "updated_at TIMESTAMP NOT NULL"),
    "buildHistorical" ->
      ("driver_number INT NOT NULL,team_name STRING," +
       "valid_from TIMESTAMP,broadcast_name STRING,full_name STRING," +
       "country_code STRING,team_colour STRING,name_acronym STRING," +
       "valid_to TIMESTAMP,is_current BOOLEAN NOT NULL," +
       "total_races INT,created_at TIMESTAMP NOT NULL," +
       "updated_at TIMESTAMP NOT NULL"),
    "merge" ->
      ("driver_number INT NOT NULL,team_name STRING," +
       "valid_from TIMESTAMP,broadcast_name STRING,full_name STRING," +
       "country_code STRING,team_colour STRING,name_acronym STRING," +
       "valid_to TIMESTAMP,is_current BOOLEAN NOT NULL," +
       "total_races INT,created_at TIMESTAMP NOT NULL," +
       "updated_at TIMESTAMP NOT NULL"),
    "driverPerformanceQualifying" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "full_name STRING,team_name STRING,race_date DATE," +
       "round_number INT NOT NULL,qualifying_position INT," +
       "gap_to_pole_seconds DECIMAL(5,3),made_q3 BOOLEAN," +
       "season_avg_qualifying_position DECIMAL(4,1),year INT NOT NULL," +
       "grand_prix_name STRING,created_at TIMESTAMP NOT NULL," +
       "updated_at TIMESTAMP NOT NULL"),
    "driverPerformanceRace" ->
      ("session_key BIGINT NOT NULL,driver_number INT NOT NULL," +
       "full_name STRING,team_name STRING,race_date DATE," +
       "round_number INT NOT NULL,grid_position INT," +
       "finish_position INT,race_points DOUBLE NOT NULL," +
       "positions_gained INT,season_points_total DOUBLE," +
       "year INT NOT NULL,grand_prix_name STRING," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "raceWeekendInsights" ->
      ("year INT NOT NULL,grand_prix_name STRING,race_date DATE," +
       "pole_position_driver STRING,race_winner_driver STRING," +
       "race_winner_team STRING,pole_to_win BOOLEAN NOT NULL," +
       "total_finishers INT,dnf_count INT," +
       "created_at TIMESTAMP NOT NULL,updated_at TIMESTAMP NOT NULL"),
    "championshipTracker" ->
      ("race_date DATE,round_number INT NOT NULL," +
       "driver_number INT NOT NULL,full_name STRING,team_name STRING," +
       "race_points DOUBLE NOT NULL,season_points_total DOUBLE," +
       "championship_position INT NOT NULL," +
       "points_gap_to_leader DOUBLE,year INT NOT NULL," +
       "grand_prix_name STRING,created_at TIMESTAMP NOT NULL," +
       "updated_at TIMESTAMP NOT NULL"))
}

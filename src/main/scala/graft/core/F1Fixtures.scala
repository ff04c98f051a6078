package graft.core

import java.sql.Timestamp

/** F1-shaped mini-season data (FIXTURES.md §2), shared by the demo
  * pipeline main and the test suite: a mini 2025 season —
  * 3 race weekends (bahrain, sao_paulo, emilia_romagna), 2 drivers with a
  * mid-season team change for #44, one DNF, one points tie at race 2, and
  * the short-qualifying-array edge cases.
  */
object F1Fixtures {

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // Session keys: quali = X01, race = X02 for weekend X.
  case class SessionRow(session_key: Long, session_type: String,
      meeting_key: Long, meeting_name: String, date_start: Timestamp,
      date_end: Timestamp, year: Int)

  val sessionRows: Seq[SessionRow] = {
    val weekends = Seq(
      (1L, "Bahrain Grand Prix", "2025-02-28", "2025-03-01"),
      (2L, "São Paulo Grand Prix", "2025-03-31", "2025-04-01"),
      (3L, "Emilia Romagna Grand Prix", "2025-04-30", "2025-05-01"))
    weekends.flatMap { case (mk, name, qday, rday) =>
      Seq(
        SessionRow(mk * 100 + 1, "Qualifying", mk, name,
          ts(s"$qday 14:00:00"), ts(s"$qday 15:00:00"), 2025),
        SessionRow(mk * 100 + 2, "Race", mk, name,
          ts(s"$rday 15:00:00"), ts(s"$rday 16:45:00"), 2025))
    }
  }

  case class QualiRow(session_key: Long, session_type: String,
      driver_number: Int, position: Option[Int], duration: Seq[Double],
      year: Int, grand_prix: String)

  /** Quali: #1 on pole everywhere; #44 P2. Short arrays: #44 out in Q2 at
    * weekend 2 (len 2), out in Q1 at weekend 3 (len 1). */
  val qualiRows: Seq[QualiRow] = Seq(
    QualiRow(101, "Qualifying", 1, Some(1), Seq(80.0, 79.5, 79.0), 2025, "bahrain"),
    QualiRow(101, "Qualifying", 44, Some(2), Seq(80.4, 79.8, 79.351), 2025, "bahrain"),
    QualiRow(201, "Qualifying", 1, Some(1), Seq(70.0, 69.5, 69.0), 2025, "sao_paulo"),
    QualiRow(201, "Qualifying", 44, Some(2), Seq(70.5, 69.9), 2025, "sao_paulo"),
    QualiRow(301, "Qualifying", 1, Some(1), Seq(81.0, 80.5, 80.0), 2025, "emilia_romagna"),
    QualiRow(301, "Qualifying", 44, Some(2), Seq(82.0), 2025, "emilia_romagna"))

  case class RaceRow(session_key: Long, session_type: String,
      driver_number: Int, position: Option[Int], grid_position: Option[Int],
      points: Option[Double], duration: Option[Double],
      gap_to_leader: Option[Double], dnf: Boolean, dns: Boolean,
      dsq: Boolean, year: Int, grand_prix: String)

  /** Races: r1 #1 wins, #44 P2 → 25/18. r2 #44 wins, #1 P2 → tie at 43.
    * r3 #44 wins, #1 DNF (null position). Raw `points` for #44 at r1
    * deliberately mismatches the ladder (19.0) to exercise
    * validated_points. */
  val raceRows: Seq[RaceRow] = Seq(
    RaceRow(102, "Race", 1, Some(1), Some(1), Some(25.0),
      Some(5400.123), None, dnf = false, dns = false, dsq = false,
      2025, "bahrain"),
    RaceRow(102, "Race", 44, Some(2), Some(2), Some(19.0),
      Some(5405.5), Some(5.377), dnf = false, dns = false, dsq = false,
      2025, "bahrain"),
    RaceRow(202, "Race", 44, Some(1), Some(2), Some(25.0),
      Some(5000.0), None, dnf = false, dns = false, dsq = false,
      2025, "sao_paulo"),
    RaceRow(202, "Race", 1, Some(2), Some(1), Some(18.0),
      Some(5002.2), Some(2.2), dnf = false, dns = false, dsq = false,
      2025, "sao_paulo"),
    RaceRow(302, "Race", 44, Some(1), Some(2), Some(25.0),
      Some(5100.0), None, dnf = false, dns = false, dsq = false,
      2025, "emilia_romagna"),
    RaceRow(302, "Race", 1, None, Some(1), Some(0.0),
      None, None, dnf = true, dns = false, dsq = false,
      2025, "emilia_romagna"))

  case class LapRow(session_key: Long, driver_number: Int, lap_number: Int,
      lap_duration: Option[Double], duration_sector_1: Option[Double],
      duration_sector_2: Option[Double], duration_sector_3: Option[Double],
      segments_sector_1: Seq[Int], position_at_lap: Option[Int],
      gap_to_leader_millis: Option[Long],
      interval_to_ahead_millis: Option[Long], tire_compound: String,
      track_status: String, session_type: String, year: Int,
      grand_prix: String)

  /** Laps for race 1: includes a sector-sum fallback row (null
    * lap_duration) and an exact fastest-lap tie between the drivers
    * (80.000 s) to exercise the row_number tie-break. */
  val lapRows: Seq[LapRow] = Seq(
    LapRow(102, 1, 1, Some(82.5), None, None, None, Seq(1, 2), Some(1),
      Some(0L), Some(0L), "SOFT", "GREEN", "Race", 2025, "bahrain"),
    LapRow(102, 1, 2, Some(80.0), None, None, None, Seq(1), Some(1),
      Some(0L), Some(0L), "SOFT", "GREEN", "Race", 2025, "bahrain"),
    LapRow(102, 44, 1, None, Some(27.0), Some(28.0), Some(28.3), Seq(2),
      Some(2), Some(2500L), Some(2500L), "MEDIUM", "GREEN", "Race", 2025,
      "bahrain"),
    LapRow(102, 44, 2, Some(80.0), None, None, None, Seq(2), Some(2),
      Some(1500L), Some(1500L), "MEDIUM", "GREEN", "Race", 2025, "bahrain"),
    // null-everything lap must be filtered (no usable time)
    LapRow(102, 44, 3, None, None, None, None, Seq.empty, Some(2),
      None, None, "MEDIUM", "GREEN", "Race", 2025, "bahrain"))

  case class PitRow(session_key: Long, driver_number: Int, lap_number: Int,
      pit_duration: Option[Double], positions_lost_gained: Option[Int],
      undercut_attempt: Option[Boolean], safety_car_stop: Option[Boolean],
      tire_compound_old: String, tire_compound_new: String, year: Int,
      grand_prix: String)

  /** Pitstops: valid row, null duration, zero, and >999 s — only the first
    * survives the validity filter (pitstops_transform.py:166-199). */
  val pitRows: Seq[PitRow] = Seq(
    PitRow(102, 1, 12, Some(22456.0), Some(-1), Some(true), Some(false),
      "SOFT", "MEDIUM", 2025, "bahrain"),
    PitRow(102, 44, 13, None, None, None, None, "MEDIUM", "HARD", 2025,
      "bahrain"),
    PitRow(102, 44, 20, Some(0.0), Some(0), Some(false), Some(false),
      "HARD", "SOFT", 2025, "bahrain"),
    PitRow(102, 1, 30, Some(1200000.0), Some(0), Some(false), Some(true),
      "SOFT", "SOFT", 2025, "bahrain"))

  case class DriverObs(driver_number: Int, team_name: String,
      broadcast_name: String, full_name: String, country_code: String,
      team_colour: String, name_acronym: String, date_start: Timestamp,
      session_type: String, session_key: Long)

  /** Driver observations per race weekend (for SCD2): #44 moves from
    * Mercedes to Ferrari at weekend 3. */
  val driverObs: Seq[DriverObs] = Seq(
    DriverObs(1, "Oracle Red Bull Racing", "M VERSTAPPEN", "Max Verstappen",
      "NED", "#3671C6", "VER", ts("2025-03-01 15:00:00"), "Race", 102),
    DriverObs(44, "Mercedes-AMG PETRONAS F1 Team", "L HAMILTON",
      "Lewis Hamilton", "GBR", "#27F4D2", "HAM",
      ts("2025-03-01 15:00:00"), "Race", 102),
    DriverObs(1, "Oracle Red Bull Racing", "M VERSTAPPEN", "Max Verstappen",
      "NED", "#3671C6", "VER", ts("2025-04-01 15:00:00"), "Race", 202),
    DriverObs(44, "Mercedes-AMG PETRONAS F1 Team", "L HAMILTON",
      "Lewis Hamilton", "GBR", "#27F4D2", "HAM",
      ts("2025-04-01 15:00:00"), "Race", 202),
    DriverObs(1, "Oracle Red Bull Racing", "M VERSTAPPEN", "Max Verstappen",
      "NED", "#3671C6", "VER", ts("2025-05-01 15:00:00"), "Race", 302),
    DriverObs(44, "Scuderia Ferrari", "L HAMILTON", "Lewis Hamilton",
      "GBR", "#E80020", "HAM", ts("2025-05-01 15:00:00"), "Race", 302))
}

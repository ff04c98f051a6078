package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The reference's scalar-function surface (SURVEY.md §2.H/§2.J),
  * re-expressed as native, codegen-friendly Column expressions.
  *
  * The reference implements six of these as Python scalar UDFs
  * (normalize GP name `common.py:24-55`, standardize team `common.py:58-142`,
  * standardize status `common.py:265-318`, detect sprint
  * `sessions_transform.py:277-316`, points/gap/made-q3 factories
  * `business_logic.py:40-177` in /root/reference). Python UDFs break
  * whole-stage codegen and serialize every row across the JVM/Python
  * boundary; at 100 TB they are the single worst per-row cost, so everything
  * here stays inside Catalyst.
  */
object F1Functions {

  /** F1 points table: position 1..10 → 25,18,15,12,10,8,6,4,2,1 else 0
    * (race_results_transform.py:157-171). Implemented as an array literal
    * lookup — constant-folded, no branch ladder.
    */
  private val pointsLadder = Seq(25, 18, 15, 12, 10, 8, 6, 4, 2, 1)
  def pointsForPosition(position: Column): Column =
    when(position.between(1, 10),
      element_at(typedLit(pointsLadder), position.cast("int")))
      .otherwise(lit(0))

  /** Full race-points rule (business_logic.py:40-82): base ladder + 1
    * fastest-lap bonus point IF the driver finished in the points-paying
    * top 10; zero outside race sessions (points are never awarded in
    * qualifying). Docstring examples: (1, true, Race)→26,
    * (1, false, Race)→25, (1, true, Qualifying)→0, (11, true, Race)→0.
    * The session gate compares EXACTLY to "Race" like the reference
    * (business_logic.py:66 compares case-sensitively); "race"/"RACE" and
    * null session types earn 0, matching the reference's else-branch. */
  def racePoints(position: Column, fastestLap: Column,
                 sessionType: Column): Column =
    when(sessionType === "Race",
      pointsForPosition(position) +
        when(coalesce(fastestLap, lit(false)) && position.between(1, 10),
          lit(1)).otherwise(lit(0)))
      .otherwise(lit(0))

  /** Normalize an entity name the way the reference normalizes GP names
    * (common.py:24-55): strip a known suffix, de-accent, lowercase,
    * spaces→underscores. Suffixes are domain-specific; default matches the
    * harness `part` names, F1 callers pass "Grand Prix".
    */
  def normalizeName(name: Column,
                    suffixPattern: String = " (widget|bolt|gear)$"): Column =
    regexp_replace(trim(lower(regexp_replace(name, suffixPattern, ""))),
      " +", "_")

  /** GP-name normalization with accent folding ('São Paulo Grand Prix' →
    * 'sao_paulo'). `translate` covers the Latin-1 accents seen in F1
    * calendars — no UDF, stays in codegen. */
  private val accented = "àáâãäåèéêëìíîïòóôõöùúûüçñ"
  private val plain    = "aaaaaaeeeeiiiiooooouuuucn"
  def normalizeGrandPrix(name: Column): Column =
    regexp_replace(
      trim(translate(lower(regexp_replace(name, "(?i) grand prix$", "")),
        accented, plain)),
      "[^a-z0-9]+", "_")

  /** Team-name standardization (common.py:58-142): strip sponsor/suffix
    * tokens anywhere in the name, then map via substring keywords to the
    * reference's canonical short forms (2023-25 grid incl. the
    * AlphaTauri→RB and Alfa Romeo→Sauber rebrand entries, common.py:
    * 110-121). Chained `when` over `contains` — broadcast-free,
    * constant-folded; first listed keyword wins, like the reference's
    * dict iteration. Fallback = title-cased cleaned name
    * (common.py:140-142).
    *
    * DELIBERATE DEVIATION from the reference's runtime behavior: its
    * 'rb f1 team'/'visa cashapp rb' dict entries are dead code (common.py
    * strips 'f1 team' BEFORE dict matching, so those keys can never hit)
    * and such names fall through to title-case as "Rb"/"Visa Cashapp Rb".
    * Here they map to the intended canonical "RB" — we implement the
    * mapping table's evident intent, not the bug (same policy as the
    * '+N lap' status note on [[standardizeStatus]]). */
  private val teamKeywords: Seq[(String, String)] = Seq(
    "red bull" -> "Red Bull Racing",
    "ferrari" -> "Ferrari",
    "mercedes" -> "Mercedes",
    "mclaren" -> "McLaren",
    "aston martin" -> "Aston Martin",
    "alpine" -> "Alpine",
    "williams" -> "Williams",
    "alphatauri" -> "AlphaTauri",
    "visa cashapp rb" -> "RB", "rb" -> "RB",
    "alfa romeo" -> "Alfa Romeo",
    "stake" -> "Sauber", "sauber" -> "Sauber",
    "haas" -> "Haas")
  def standardizeTeam(team: Column): Column = {
    val stripped = trim(regexp_replace(lower(regexp_replace(team,
      "(?i)\\s*(f1\\s+team|formula 1|formula one|racing|cognizant|aramco|" +
        "orlen|petronas|moneygram|gp)\\s*", " ")),
      " +", " "))
    // "rb" must not fire on names that merely CONTAIN the letters (e.g.
    // nothing on the current grid, but be safe): require word match.
    def hit(kw: String): Column =
      if (kw == "rb") stripped.rlike("(^| )rb( |$)")
      else stripped.contains(kw)
    teamKeywords.foldRight(initcap(stripped)) {
      case ((kw, canonical), acc) => when(hit(kw), lit(canonical)).otherwise(acc)
    }
  }

  /** Race-status bucketing (common.py:265-318): keyword ladder in the
    * reference's precedence order (Finished → DNF/accident → DNF/
    * mechanical → DNS → DSQ → Retired → Withdrawn), with the reference's
    * fallbacks: empty/null → "Unknown", anything unmatched → the
    * trimmed original string. One deliberate addition: "+N lap(s)"
    * classified finishers count as Finished (the reference's 'lapped'
    * keyword misses them). */
  def standardizeStatus(status: Column): Column = {
    val s = lower(trim(coalesce(status, lit(""))))
    when(s === "", "Unknown")
      .when(s.rlike("finished|classified|lapped|\\+\\d+ lap"), "Finished")
      .when(s.rlike("dnf|accident|collision|damage|crash"), "DNF")
      .when(s.rlike("engine|gearbox|hydraulic|electrical|mechanical|" +
        "power|technical"), "DNF")
      .when(s.rlike("dns|did not start|not started"), "DNS")
      .when(s.rlike("dsq|disqualified|excluded"), "DSQ")
      .when(s.contains("retired"), "Retired")
      .when(s.contains("withdrawn"), "Withdrawn")
      .otherwise(trim(status))
  }

  /** Priority bucketing used by the oracle harness — same rlike-ladder shape
    * as [[standardizeStatus]] over the orders priority strings. */
  def bucketPriority(priority: Column): Column = {
    val p = lower(priority)
    when(p.contains("urgent"), "CRITICAL")
      .when(p.contains("high"), "ELEVATED")
      .when(p.rlike("medium|low"), "ROUTINE")
      .otherwise("UNKNOWN")
  }

  /** Sprint-weekend detection (sessions_transform.py:277-316): name mentions
    * sprint, or the location is on the known sprint calendar. The list is
    * the reference's 2024/25 set incl. circuit aliases
    * (sessions_transform.py:302-308), held in canonical underscore form;
    * the input is folded through [[normalizeGrandPrix]] first so the match
    * works whether callers pass the raw meeting name ("United States
    * Grand Prix") or the already-normalized one ("united_states"). */
  private val sprintLocations =
    Seq("china", "shanghai", "miami", "austria", "spielberg",
      "united_states", "austin", "cota", "brazil", "interlagos",
      "sao_paulo", "qatar", "losail")
  // Word-anchored within the underscore-canonical form, like the "rb"
  // guard in standardizeTeam: "austria" must not fire on
  // "austrian_village" (a bare alternation matches any substring).
  private val sprintLocationPattern =
    sprintLocations.mkString("(^|_)(", "|", ")(_|$)")
  def detectSprintWeekend(sessionName: Column, location: Column): Column =
    coalesce(
      lower(sessionName).contains("sprint") ||
        normalizeGrandPrix(location).rlike(sprintLocationPattern),
      lit(false))

  /** Milliseconds → "M:SS.mmm" lap-time string (laps_transform.py:150-204).
    * floor/%/lpad only — deterministic across engines for double input. */
  def formatLapTimeMillis(ms: Column): Column =
    concat(
      floor(ms / 60000).cast("string"),
      lit(":"),
      lpad((floor(ms / 1000).cast(LongType) % 60).cast("string"), 2, "0"),
      lit("."),
      lpad((floor(ms).cast(LongType) % 1000).cast("string"), 3, "0"))

  /** Milliseconds → "HH:MM:SS.mmm" race-time string
    * (race_results_transform.py:194-248). */
  def formatRaceTimeMillis(ms: Column): Column =
    concat(
      lpad(floor(ms / 3600000).cast(LongType).cast("string"), 2, "0"),
      lit(":"),
      lpad((floor(ms / 60000).cast(LongType) % 60).cast("string"), 2, "0"),
      lit(":"),
      lpad((floor(ms / 1000).cast(LongType) % 60).cast("string"), 2, "0"),
      lit("."),
      lpad((floor(ms).cast(LongType) % 1000).cast("string"), 3, "0"))

  /** "1:23.456" / "23.456" / "1:23:45.678" → milliseconds
    * (common.py:145-206). Split on ':' and fold Horner-style. */
  def timeStringToMillis(t: Column): Column = {
    val parts = split(t, ":")
    val n = size(parts)
    val sec = element_at(parts, n).cast("double")
    val mins = when(n >= 2, element_at(parts, n - 1).cast("double"))
      .otherwise(lit(0.0))
    val hrs = when(n >= 3, element_at(parts, n - 2).cast("double"))
      .otherwise(lit(0.0))
    when(t.isNull || t === "", lit(null).cast(LongType))
      .otherwise(round((hrs * 3600 + mins * 60 + sec) * 1000).cast(LongType))
  }

  /** Seconds (double) → millis (long), the reference's ×1000-with-round
    * convention (qualifying_transform.py:134-182). */
  def secondsToMillis(sec: Column): Column = round(sec * 1000).cast(LongType)

  /** Gap-to-pole clamp: negative gaps (data glitches) clamp to 0
    * (business_logic.py:180-197). */
  def gapClampNonNegative(gap: Column): Column =
    when(gap < 0, lit(0.0)).otherwise(gap)

  /** made_q3: qualifying position ≤ 10 (business_logic.py:309-322). */
  def madeQ3(position: Column): Column =
    position.isNotNull && position <= 10

  /** positions_gained = grid − finish (business_logic.py:292-307). */
  def positionsGained(grid: Column, finish: Column): Column =
    when(grid.isNotNull && finish.isNotNull && grid > 0,
      grid - finish).otherwise(lit(0))
}

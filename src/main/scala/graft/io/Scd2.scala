package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Audit

/** Slowly-Changing-Dimension Type 2 for the drivers dimension
  * (SURVEY.md §7.3 hard part #1).
  *
  * The reference does a two-step non-atomic Iceberg merge (SQL UPDATE of
  * closing rows + append of new current rows,
  * `utils/transformations/common.py:418-471` in /root/reference). Without
  * ACID MERGE on plain Parquet we compute the post-merge dimension as a
  * DataFrame (close + carry + insert) and atomically rewrite
  * ([[ParquetSink.atomicRewrite]]). The dimension is small (~30 rows per
  * season, SURVEY §1.4) so a full rewrite is cheaper than any cleverness;
  * at 100 TB the FACT tables never take this path.
  *
  * Determinism: the reference's `last()`-without-ordering and shadowed
  * `max` bug (`scd.py:104-108`) are replaced with `max_by(attr, date)`.
  */
object Scd2 {

  private val attrCols =
    Seq("broadcast_name", "full_name", "country_code", "team_colour",
      "name_acronym")

  /** Historical build (scd.py:199-245): one SCD2 row per (driver, team)
    * stint. valid_from = first appearance with that team; valid_to = next
    * stint's valid_from; attributes = latest observed values in the stint.
    */
  def buildHistorical(driversWithDates: DataFrame): DataFrame = {
    val perStint = driversWithDates
      .groupBy(col("driver_number"), col("team_name"))
      .agg(
        min(col("date_start")).as("valid_from"),
        (attrCols.map(c => max_by(col(c), col("date_start")).as(c)) :+
          countDistinct(when(lower(col("session_type")) === "race",
            col("session_key"))).as("stint_races")): _*)
    val timeline = Window.partitionBy(col("driver_number"))
      .orderBy(col("valid_from"))
    val career = Window.partitionBy(col("driver_number"))
    Audit.stamped(perStint
      .withColumn("valid_to", lead(col("valid_from"), 1).over(timeline))
      .withColumn("is_current", col("valid_to").isNull)
      .withColumn("total_races",
        sum(col("stint_races")).over(career).cast("int"))
      .drop("stint_races"))
  }

  /** Incremental merge (scd.py:29-137): fold one batch of driver
    * observations into an existing SCD2 dimension. Returns the full
    * post-merge dimension for [[ParquetSink.atomicRewrite]].
    *
    * Change semantics (FIXTURES.md golden cases):
    *  - new driver    → insert current row
    *  - team change   → close current row at batch date, insert new row
    *  - no change     → row untouched except `total_races` (see below)
    *
    * `total_races`: the reference recomputes it as countDistinct of ALL
    * race sessions per driver (`common.py:526-546`), so it must grow even
    * for drivers whose team did not change. Pass `raceHistory` — every
    * driver-session observation to date, batch included — and the merge
    * recomputes career totals onto each driver's open row; re-running the
    * same batch is then a no-op (the distinct count dedupes by session_key).
    * Without `raceHistory` the merge falls back to accumulating
    * prior+batch on changed rows only, which freezes the count for
    * NO_CHANGE drivers — fine for pure-dimension callers with no session
    * log, but not reference-faithful.
    */
  def merge(existing: DataFrame, batch: DataFrame,
      raceHistory: Option[DataFrame] = None): DataFrame = {
    // one audit time for the closed and the inserted rows
    val now = Audit.now()
    // Latest observation per driver in the batch — max_by, not last().
    // Distinct race counts are size(collect_set(...)), not countDistinct:
    // the same count (nulls ignored, 0 for none) in one aggregate, where a
    // distinct aggregate beside others plans a second shuffle.
    val aggExprs =
      Seq(max(col("date_start")).as("batch_date"),
        max_by(col("team_name"), col("date_start")).as("batch_team"),
        size(collect_set(when(lower(col("session_type")) === "race",
          col("session_key")))).as("batch_races")) ++
        attrCols.map(c => max_by(col(c), col("date_start")).as(s"batch_$c"))
    val latest = batch.groupBy(col("driver_number"))
      .agg(aggExprs.head, aggExprs.tail: _*)

    val current = existing.filter(col("is_current") === true)
      .select(col("driver_number"), col("team_name"),
        col("total_races").as("prior_races"))
    val changes = latest.join(broadcast(current), Seq("driver_number"), "left")
      .withColumn("change_type",
        when(col("team_name").isNull, "NEW_DRIVER")
          .when(col("team_name") =!= col("batch_team"), "TEAM_CHANGE")
          .otherwise("NO_CHANGE"))
      .filter(col("change_type") =!= "NO_CHANGE")
      .select(col("driver_number"), col("batch_date"), col("batch_team"),
        col("change_type"),
        (coalesce(col("prior_races"), lit(0)) + col("batch_races"))
          .cast("int").as("new_total_races"),
        struct(attrCols.map(c => col(s"batch_$c").as(c)): _*).as("attrs"))

    val changedKeys = changes.select("driver_number", "batch_date")

    // Close the open row of every changed driver at the batch date.
    val closed = existing.join(broadcast(changedKeys), Seq("driver_number"),
        "left")
      .withColumn("valid_to",
        when(col("is_current") && col("batch_date").isNotNull,
          col("batch_date")).otherwise(col("valid_to")))
      .withColumn("updated_at",
        when(col("is_current") && col("batch_date").isNotNull,
          now).otherwise(col("updated_at")))
      .withColumn("is_current",
        when(col("is_current") && col("batch_date").isNotNull, false)
          .otherwise(col("is_current")))
      .drop("batch_date")

    // Insert one new current row per change.
    val inserted = changes.select(
      (Seq(col("driver_number"), col("batch_team").as("team_name"),
        col("batch_date").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        lit(true).as("is_current"),
        col("new_total_races").as("total_races"),
        now.as("created_at"),
        now.as("updated_at")) ++
        attrCols.map(c => col("attrs").getField(c).as(c))): _*)

    val cols = closed.columns.toIndexedSeq
    val dim = closed.unionByName(inserted.select(cols.map(inserted.col): _*))

    raceHistory match {
      case None => dim
      case Some(hist) =>
        // Reference semantics: career total = distinct race sessions over
        // the full history. ~1 row per (driver, session) — tiny next to
        // the fact tables, and the aggregate output is O(#drivers), so
        // the join side broadcasts.
        val totals = hist
          .filter(lower(col("session_type")) === "race")
          .groupBy(col("driver_number"))
          .agg(size(collect_set(col("session_key"))).as("career_races"))
        dim.join(broadcast(totals), Seq("driver_number"), "left")
          .withColumn("total_races",
            when(col("is_current") && col("career_races").isNotNull,
              col("career_races")).otherwise(col("total_races")))
          .drop("career_races")
          .select(cols.map(col): _*)
    }
  }
}

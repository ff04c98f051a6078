package lakebench

import java.sql.Timestamp

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.gold.GoldTransforms
import graft.io.{ParquetSink, PipelineMetrics, Scd2}
import graft.silver.SilverTransforms
import graft.sources.BronzeReader

/** The medallion pipeline driven from outside through the modules' public
  * functions: `sources.BronzeReader`, `silver.SilverTransforms`,
  * `io.PipelineMetrics`, `io.ParquetSink`, `io.Scd2` and
  * `gold.GoldTransforms`. Every layer call sits in a span; inside it, the
  * `build` span constructs the DataFrames and the `exec` span runs the sink.
  */
final class Medallion(spark: SparkSession, bronze: String, wh: String,
                      trace: Trace) {
  import Medallion._

  /** Row count and null-key count of every silver write, from its
    * `observe()` gate. */
  val gates = mutable.ArrayBuffer[(String, Long, Long)]()

  private def read(table: String, year: Option[Int] = None,
                   gp: Option[String] = None): DataFrame =
    trace.span("sources.read", table) {
      trace.span("build") { BronzeReader.read(spark, s"$bronze/$table", year, gp) }
    }

  private def writeSilver(b: Map[String, DataFrame]): Unit =
    SilverTables.foreach { case (name, from, transform) =>
      trace.span("silver.write", name) {
        val (df, gate) = trace.span("build") {
          PipelineMetrics.observed(transform(b(from)), s"${name}_gate",
            Seq("session_key"))
        }
        trace.span("exec") {
          ParquetSink.overwritePartitions(df, s"$wh/$name", SilverPartitions)
        }
        val m = gate.get
        gates += ((name, m("n_rows").asInstanceOf[Long],
          m("null_session_key").asInstanceOf[Long]))
      }
    }

  private def silver(name: String): DataFrame = spark.read.parquet(s"$wh/$name")

  private def gold(name: String, partitioned: Boolean)(build: => DataFrame): Unit =
    trace.span("gold.write", name) {
      val df = trace.span("build")(build)
      trace.span("exec") {
        if (partitioned) ParquetSink.overwritePartitions(df, s"$wh/$name", SilverPartitions)
        else ParquetSink.overwrite(df, s"$wh/$name")
      }
    }

  /** Gold: the three per-weekend tables, computed over the `year`'s silver
    * and written by dynamic partition overwrite of the `gp` weekend (all
    * weekends if None), then the full championship tracker rewrite. Each
    * silver input is read once. */
  private def writeGold(year: Option[Int], gp: Option[String]): Unit = {
    val (s, q, r, d) = trace.span("gold.write", "silver_inputs") {
      trace.span("build") {
        (silver("sessions_silver"), silver("qualifying_results_silver"),
          silver("race_results_silver"), silver(DimTable))
      }
    }
    def season(df: DataFrame) = year.fold(df)(y => df.filter(col("year") === y))
    def scoped(df: DataFrame) = gp.fold(df)(g => df.filter(col("grand_prix_name") === g))
    gold("driver_performance_summary_qualifying", partitioned = true) {
      scoped(GoldTransforms.driverPerformanceQualifying(season(s), season(q), d))
    }
    gold("driver_performance_summary_race", partitioned = true) {
      scoped(GoldTransforms.driverPerformanceRace(season(s), season(r), d))
    }
    gold("race_weekend_insights", partitioned = true) {
      scoped(GoldTransforms.raceWeekendInsights(season(s), season(q), season(r), d))
    }
    gold("championship_tracker", partitioned = false) {
      GoldTransforms.championshipTracker(s, r, d)
    }
  }

  /** HISTORICAL: every bronze partition (of one `year` if given) to silver,
    * the SCD2 dimension built from those driver observations, then gold. */
  def backfill(year: Option[Int] = None): Unit = {
    val b = BronzeTables.map(t => t -> read(t, year)).toMap
    writeSilver(b)
    trace.span("scd2.write", DimTable) {
      val dim = trace.span("build") { Scd2.buildHistorical(b("drivers")) }
      trace.span("exec") { ParquetSink.atomicRewrite(dim, s"$wh/$DimTable") }
    }
    writeGold(year, None)
  }

  /** INCREMENTAL: one Grand Prix weekend — partition-pruned bronze reads,
    * silver partition overwrite, SCD2 merge against every driver
    * observation up to the race, gold scoped to the weekend plus the
    * tracker rewrite. */
  def refresh(w: Weekend): Unit = {
    val b = BronzeTables.map(t => t -> read(t, Some(w.year), Some(w.gp))).toMap
    val history = read("drivers")
    writeSilver(b)
    trace.span("scd2.write", DimTable) {
      val merged = trace.span("build") {
        Scd2.merge(silver(DimTable), b("drivers"), Some(history.filter(
          col("date_start") <= lit(w.raceEnd))))
      }
      trace.span("exec") { ParquetSink.atomicRewrite(merged, s"$wh/$DimTable") }
    }
    writeGold(Some(w.year), Some(w.gp))
  }
}

/** One generated Grand Prix weekend (a line of the generator's
  * weekends.tsv) with the row counts it adds to silver, and the SCD2 stint
  * and driver counts of all weekends up to and including it. */
final case class Weekend(year: Int, round: Int, gp: String, raceEnd: Timestamp,
    lapsValid: Long, pitsValid: Long, stints: Long, drivers: Long)

object Weekend {
  def load(path: String): Seq[Weekend] = {
    val src = Source.fromFile(path)
    try src.getLines().map(_.split('\t')).map { f =>
      Weekend(f(0).toInt, f(1).toInt, f(2), Timestamp.valueOf(f(3)),
        f(4).toLong, f(5).toLong, f(6).toLong, f(7).toLong)
    }.toList
    finally src.close()
  }
}

object Medallion {
  val BronzeTables: Seq[String] =
    Seq("sessions", "qualifying", "race_results", "laps", "pitstops", "drivers")
  val DimTable = "drivers_silver"
  val SilverPartitions = Seq("year", "grand_prix_name")

  // (silver table, bronze table, transform)
  val SilverTables: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("sessions_silver", "sessions", SilverTransforms.sessions),
    ("qualifying_results_silver", "qualifying", SilverTransforms.qualifying),
    ("race_results_silver", "race_results", SilverTransforms.raceResults),
    ("laps_silver", "laps", SilverTransforms.laps),
    ("pitstops_silver", "pitstops", SilverTransforms.pitstops))

  val GoldTables: Seq[String] = Seq("driver_performance_summary_qualifying",
    "driver_performance_summary_race", "race_weekend_insights",
    "championship_tracker")

  /** Expected warehouse row counts after the weekends `ws` have landed. */
  def expected(ws: Seq[Weekend]): Seq[(String, Long)] = {
    val n = ws.size.toLong
    val last = ws.maxBy(w => (w.year, w.round))
    Seq("sessions_silver" -> 2 * n, "qualifying_results_silver" -> 20 * n,
      "race_results_silver" -> 20 * n, "laps_silver" -> ws.map(_.lapsValid).sum,
      "pitstops_silver" -> ws.map(_.pitsValid).sum, DimTable -> last.stints,
      "drivers_silver.current_rows" -> last.drivers,
      "drivers_silver.current_drivers" -> last.drivers,
      "driver_performance_summary_qualifying" -> 20 * n,
      "driver_performance_summary_race" -> 20 * n,
      "race_weekend_insights" -> n, "championship_tracker" -> 20 * n)
  }

  /** Warehouse row counts as read back, keyed like [[expected]]. */
  def observedCounts(spark: SparkSession, wh: String): Seq[(String, Long)] = {
    def n(t: String) = spark.read.parquet(s"$wh/$t").count()
    val current = spark.read.parquet(s"$wh/$DimTable")
      .filter(col("is_current") === true)
    // one current row per driver: both counts equal the driver count
    (SilverTables.map(_._1) :+ DimTable).map(t => t -> n(t)) ++ Seq(
      "drivers_silver.current_rows" -> current.count(),
      "drivers_silver.current_drivers" ->
        current.select("driver_number").distinct().count()) ++
      GoldTables.map(t => t -> n(t))
  }
}

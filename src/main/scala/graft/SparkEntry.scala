package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** The query catalog — see SURVEY.md §7.
  *
  * `queries` aggregates the per-family query maps, and every key has
  * matching DuckDB SQL in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query (SURVEY §7.2 championship-tracker shape) on sf0.001:
    * 3-way join → per-customer running spend → per-date rank with tie-break
    * → gap to leader. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val joined = o
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("n_name"))
    val running = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perDate = Window.partitionBy(col("o_orderdate"))
    val withTotal = joined.withColumn("season_spend",
      sum(col("o_totalprice").cast(DecimalType(18, 2))).over(running).cast("double"))
    withTotal
      .withColumn("spend_rank", rank().over(
        perDate.orderBy(col("season_spend").desc, col("o_custkey").asc)))
      .withColumn("gap_to_leader",
        max(col("season_spend")).over(perDate) - col("season_spend"))
  }

  private type Query = (SparkSession, String) => DataFrame

  /** The 13 query families, each as the pair of functions building its
    * query map and its oracle map. `queries` and `oracleSql` fold this
    * one list, so a family can only be added to both or to neither. */
  private[graft] val families: Seq[(() => Map[String, Query], () => Map[String, String])] = {
    import graft.queries._
    Seq(
      (() => RelationalQueries.queries, () => RelationalQueries.oracleSql),
      (() => WindowQueries.queries, () => WindowQueries.oracleSql),
      (() => ScalarQueries.queries, () => ScalarQueries.oracleSql),
      (() => EventQueries.queries, () => EventQueries.oracleSql),
      (() => TrainingDataQueries.queries, () => TrainingDataQueries.oracleSql),
      (() => MultimodalQueries.queries, () => MultimodalQueries.oracleSql),
      (() => GoldQueries.queries, () => GoldQueries.oracleSql),
      (() => SqlQueries.queries, () => SqlQueries.oracleSql),
      (() => ScoringQueries.queries, () => ScoringQueries.oracleSql),
      (() => GraphQueries.queries, () => GraphQueries.oracleSql),
      (() => ExperimentQueries.queries, () => ExperimentQueries.oracleSql),
      (() => PrivacyQueries.queries, () => PrivacyQueries.oracleSql),
      (() => TrainerQueries.queries, () => TrainerQueries.oracleSql))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, Query] = families.map(_._1()).reduce(_ ++ _)

  /** For each key in `queries`, equivalent SQL that DuckDB runs on the
    * same parquet tables: the independent oracle each query's rows are
    * compared with. Every key has one (CatalogShapeSpec). */
  def oracleSql: Map[String, String] = families.map(_._2()).reduce(_ ++ _)
}

package graft.gold

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Reusable analytical window helpers — the Scala replacement for the
  * reference's `utils/analytics/window_functions.py` (568 LoC). Every
  * helper takes explicit partition/order keys with mandatory tie-breakers:
  * the reference leaves several orderings nondeterministic (`last()`
  * without sort, `scd.py:104-108`); here determinism is part of the API.
  */
object WindowOps {

  /** UNBOUNDED PRECEDING..CURRENT ROW frame over (partition, order). */
  private def runningFrame(partition: Seq[Column], order: Seq[Column]): WindowSpec =
    Window.partitionBy(partition: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Running total (cumulative season points, window_functions.py:58-86). */
  def runningTotal(value: Column, partition: Seq[Column],
                   order: Seq[Column]): Column =
    sum(value).over(runningFrame(partition, order))

  /** Running average (season avg position, window_functions.py:245-279). */
  def runningAvg(value: Column, partition: Seq[Column],
                 order: Seq[Column]): Column =
    avg(value).over(runningFrame(partition, order))

  /** Rank with explicit tie-break (championship position,
    * window_functions.py:281-308): rank by `rankBy` desc, ties broken by
    * `tieBreak` asc — tie-break affects ordering only; equal `rankBy`
    * values still share a rank. */
  def rankWithTieBreak(partition: Seq[Column], rankBy: Column,
                       tieBreak: Column): Column =
    rank().over(Window.partitionBy(partition: _*)
      .orderBy(rankBy.desc, tieBreak.asc))

  /** Gap to the partition leader (window_functions.py:310-338). */
  def gapToLeader(value: Column, partition: Seq[Column]): Column =
    max(value).over(Window.partitionBy(partition: _*)) - value

  /** Chronological round number within a year
    * (dense_rank over race_date, championship_tracker_transform.py:251-258).
    */
  def roundNumber(yearCol: Column, raceDate: Column): Column =
    dense_rank().over(Window.partitionBy(yearCol).orderBy(raceDate))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering: interleave the bits of several columns into
  * one value so that sorting by it co-locates rows that are close in EVERY
  * dimension at once.
  *
  * Why it matters at 100 TB: a plain sorted write makes parquet min/max
  * stats selective for ONE sort key — a predicate on the second sort
  * column still scans everything. Z-ordering the layout gives
  * every interleaved dimension partial selectivity: a filter on any of
  * them prunes row groups/files by stats alone (the technique behind
  * Delta/Iceberg `ZORDER BY`). Pure bit arithmetic per row — codegen'd
  * column expressions, no shuffle beyond the final range-cluster write.
  */
object ZOrder {

  /** Morton value: bit `b` of `cols(i)` lands at position `b * n + i`.
    * Each column must already be a non-negative integer in
    * `[0, 2^bits)` — callers bucket/rank real values first (e.g.
    * `col % 1024`, a computed rank, or epoch-day). `n * bits` must fit a
    * signed long (≤ 63). Disjoint target bits mean the per-bit terms
    * combine with OR — one flat codegen expression, no branches. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "at least one column")
    require(bits > 0 && bits * cols.size <= 63,
      s"${cols.size} cols x $bits bits must fit in 63")
    val n = cols.size
    cols.zipWithIndex.map { case (c, i) =>
      val long = c.cast("long")
      (0 until bits).map { b =>
        shiftleft(shiftright(long, b).bitwiseAND(lit(1L)), b * n + i)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ordered layout write: range-cluster into `nFiles` by the Morton
    * value of `dims` and sort within each file, so parquet stats prune on
    * any interleaved dimension. One range exchange, like any clustered
    * write. */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[Column],
                    bits: Int, nFiles: Int): DataFrame = {
    require(!df.columns.contains("__z"), "__z is reserved by ZOrder")
    val zv = zValue(dims, bits)
    df.withColumn("__z", zv)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    df
  }

  /** Hilbert-clustered layout write: [[writeZOrdered]] with the
    * locality-optimal curve ([[graft.functions.HilbertIndex]]) instead
    * of Morton — consecutive index values are always grid-adjacent, so
    * each range-clustered file covers a tighter (x, y) bounding box
    * and per-file min/max stats prune harder on BOTH dimensions
    * (measured on-disk by IoSpec, and as a query by
    * z6_hilbert_vs_morton: ~1.6× smaller average box at sf0.01). Same
    * single range exchange. 2-D only — the recurrence is per-curve,
    * where Morton generalizes to n dims for free. */
  def writeHilbertClustered(df: DataFrame, path: String, x: Column,
                            y: Column, bits: Int,
                            nFiles: Int): DataFrame = {
    require(!df.columns.contains("__h"), "__h is reserved by ZOrder")
    df.withColumn("__h",
        graft.functions.SpatialExpressions.hilbertIndex(x, y, bits))
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite").parquet(path)
    df
  }
}

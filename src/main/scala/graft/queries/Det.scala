package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Deterministic numeric aggregation helpers for the oracle harness.
  *
  * Floating-point SUM/AVG are order-dependent, and Spark and DuckDB
  * accumulate in different orders (hash-partitioned partial aggs vs
  * vectorized/segment-tree), so a raw `sum(double)` can differ in the last
  * bits and fail the driver's hash compare. We instead sum EXACTLY in
  * decimal (associative + commutative, so partial aggregation order is
  * irrelevant) and cast the final value to double — the decimal→double
  * conversion is correctly-rounded in both engines, so results are
  * bit-identical. The matching DuckDB idiom is
  * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
  */
object Det {
  /** decimal(38,0): the exact integer type the catalog casts to before
    * summing or multiplying counts and sufficient statistics (HUGEINT in
    * the oracles). */
  val d38: DecimalType = DecimalType(38, 0)

  /** DuckDB fragment matching [[graft.operators.TextAnalysis.normalizeText]]:
    * lowercase, whitespace runs collapsed to one space, trimmed. */
  val normSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  /** Embedding lanes micro-quantized to longs, floor(x · 10⁶): the
    * integer vectors the catalog's dot products and norms run on. */
  def quantized(lanes: Column): Column =
    transform(lanes, x => floor(x.cast("double") * 1000000).cast("long"))

  /** Exact, order-independent sum of a 2-decimal money column, as double. */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Deterministic mean: exact decimal sum → double, divided by count.
    * Both engines then perform the identical IEEE double division. */
  def moneyAvg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType) / count(c)

  /** DuckDB SQL fragment matching [[moneySum]]. */
  def sqlMoneySum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"

  /** DuckDB SQL fragment matching [[moneyAvg]]. */
  def sqlMoneyAvg(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE) / COUNT($expr)"

  /** Executable form of the "quote-free, ASCII-only" convention on
    * caller-supplied regex fragments (the parameterized detector
    * patterns, round-10 directive 6): the fragment embeds VERBATIM in
    * both engines' regex literals — including inside single-quoted
    * oracle SQL — so a quote would silently truncate/break the SQL
    * template and a non-ASCII class risks Java-vs-RE2 semantic drift.
    * Backslash classes (`\d`, `\b`) are fine: both engines read the
    * same bytes (DuckDB single-quoted strings are escape-free).
    * Fail at construction, not as a hash mismatch 30 minutes later. */
  private[graft] def requireEmbeddablePattern(what: String,
                                              fragment: String): Unit = {
    require(fragment.nonEmpty &&
        fragment.forall(c => c >= 0x20.toChar && c <= 0x7e.toChar),
      s"$what must be non-empty printable ASCII — it embeds verbatim " +
        s"in both engines' regex literals: ${fragment.take(80)}")
    require(!fragment.exists(c => c == '\'' || c == '"'),
      s"$what must be quote-free — it embeds inside single-quoted " +
        s"oracle SQL: ${fragment.take(80)}")
  }
}

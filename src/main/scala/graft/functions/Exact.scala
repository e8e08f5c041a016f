package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic numeric helpers.
  *
  * The correctness gate hash-compares our results against a DuckDB oracle.
  * Double aggregation order differs between engines (Spark partial aggs per
  * partition vs DuckDB sequential), so plain `sum(double)` is not bit-stable.
  * The fix: scale to integer-valued doubles/longs *before* aggregating.
  * Integer arithmetic below 2^53 is exact in IEEE double regardless of
  * order, so both engines produce identical bits. One final division by the
  * scale (a single deterministic IEEE op on identical inputs) restores units.
  *
  * This is also the right call at 100 TB: money as scaled longs avoids both
  * float drift and Decimal's slow non-codegen path in wide aggregations.
  */
object Exact {

  /** `x` scaled by 10^digits and rounded to a long. Exact for inputs that
    * carry at most `digits` decimal digits (all money columns in testdata).
    */
  def toScaledLong(x: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    round(x * lit(scale), 0).cast("long")
  }

  /** Sum a double column exactly: integerize per row, sum longs, divide
    * once.
    *
    * Overflow envelope: the long partial sums hold |sum| < 9.2e18 scaled
    * units — at 4 digits that is 9.2e14 in value units (e.g. ~1e9 rows of
    * million-scale money). Beyond that envelope use [[exactSumBig]]: same
    * semantics through a decimal(38,0) accumulator (wider, modestly
    * slower).
    */
  def exactSum(x: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    sum(toScaledLong(x, digits)).cast("double") / lit(scale)
  }

  /** [[exactSum]] with a 38-digit decimal accumulator for row counts
    * where a long SUM could overflow (the 100 TB default). Per-row scaled
    * values still need to fit a double's 2^53 integer envelope — money
    * does; it is the accumulated total that outgrows long first.
    */
  def exactSumBig(x: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    sum(round(x * lit(scale), 0).cast("decimal(38,0)")).cast("double") /
      lit(scale)
  }

  /** Average with the same exact-integer strategy (one division at the end). */
  def exactAvg(x: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    (sum(toScaledLong(x, digits)).cast("double") / count(x)) / lit(scale)
  }

  /** DuckDB SQL fragment computing exactly [[toScaledLong]]. */
  def toScaledLongSql(expr: String, digits: Int): String = {
    val scale = math.pow(10, digits)
    s"CAST(round(($expr) * $scale, 0) AS BIGINT)"
  }

  /** DuckDB SQL fragment computing exactly [[exactSum]] (same expression
    * tree, so the division result is bit-identical).
    */
  def exactSumSql(expr: String, digits: Int): String = {
    val scale = math.pow(10, digits)
    s"CAST(sum(${toScaledLongSql(expr, digits)}) AS DOUBLE) / $scale"
  }

  /** DuckDB SQL fragment computing exactly [[exactAvg]]. */
  def exactAvgSql(expr: String, digits: Int): String = {
    val scale = math.pow(10, digits)
    s"(CAST(sum(${toScaledLongSql(expr, digits)}) AS DOUBLE) / CAST(count($expr) AS BIGINT)) / $scale"
  }

  /** Revenue expression used throughout: extendedprice * (1 - discount),
    * per-row double (bit-identical across engines when the oracle uses the
    * same tree: `x * (1.0 - d)`). Feed to [[exactSum]] for aggregation.
    */
  def revenue(price: Column, discount: Column): Column =
    price * (lit(1.0) - discount)
}

package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine numeric determinism helpers.
  *
  * The driver hash-compares our parquet output against DuckDB running the
  * oracle SQL. Plain `SUM(double)` is order-dependent (floating-point addition
  * is not associative, and both engines sum in parallel), so any money-like
  * column is summed as an exact decimal and only then cast back to double:
  * decimal aggregation is exact and associative, and decimal→double conversion
  * is deterministic round-to-nearest in both engines. Integer-valued doubles
  * (e.g. TPC-H `l_quantity`) are exact in IEEE754 at any summation order below
  * 2^53, so plain sums are fine for those.
  *
  * At 100 TB this costs nothing extra: decimal sums ride the same two-phase
  * partial/final HashAggregate as double sums.
  */
object Num {
  /** Exact sum of a 2-decimal money column, returned as double.
    * Oracle SQL equivalent: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sumMoney(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** COUNT(*) as long — matches DuckDB BIGINT count. */
  def countStar: Column = count(lit(1))

  /** TRUE integer division of a non-negative long by a positive long
    * constant — `x div d`, matching DuckDB's `//` at ANY magnitude.
    * The tempting `(x / d).cast("long")` goes through double division and
    * only equals `//` while the dividend stays below 2^53 (above that the
    * rounded double quotient can truncate to the wrong integer); `div` is
    * exact 64-bit arithmetic with no such precondition. Non-negative only:
    * for negative dividends `div` truncates toward zero while some engines'
    * `//` floors — every engine call site divides a sum of prices/counts,
    * which is ≥ 0. */
  def divLong(x: Column, d: Long): Column =
    call_function("div", x, lit(d)).cast("long")

  /** Column-divisor overload — same exact integral `div`, for divisors
    * computed in the plan (e.g. a broadcast corpus total). */
  def divLong(x: Column, d: Column): Column =
    call_function("div", x, d).cast("long")
}

package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** THE cross-engine deterministic aggregate convention — single owner
  * of both the Column form and the DuckDB SQL text, so the two can
  * never drift apart (every operator module aggregates money/quantity
  * through these).
  *
  * Doubles summed in parallel are partition-order-dependent, so every
  * sum/avg:
  *   1. casts each row value to DOUBLE first — NEVER float→decimal
  *      directly: DuckDB's float→decimal scales in float32 and
  *      fabricates digits (e.g. 5100349.0f → 5100349.0304);
  *   2. casts to DECIMAL(18,4) (exact — source values carry ≤4 decimal
  *      digits) and SUMs in decimal: exact, associative, order-proof;
  *   3. casts the final scalar back to DOUBLE: one correctly-rounded
  *      conversion, identical in the JVM and DuckDB.
  * Averages divide the exact-decimal sum by the count in one IEEE
  * double division.
  *
  * The Column form computes exactly `sum(dec(c))` — the decimal(28,4)
  * DuckDB's SQL text sums — but not through Spark's decimal sum, whose
  * (28,4) buffer is not long-backed (a `BigDecimal` per update) and
  * whose double→decimal cast prints the double (~210 ns a row). Each
  * row becomes the UNSCALED LONG of `dec(c)` instead ([[unscaled]]):
  *   - fast path: with `x = double(c) * 1e4`, when `|x| < 2^40` and
  *     `|x − floor(x) − 0.5| > 1e-3`, the value is `floor(x + 0.5)`.
  *     Spark's cast rounds the double's printed decimal `s` HALF_UP at
  *     4 digits; `s` parses back to the double, so it lies within
  *     half an ulp of it (≤ 7.5e-5 once scaled by 1e4, since
  *     |double(c)| < 2^27), and the product `x` adds at most half an
  *     ulp of 2^40 (6.1e-5). So `1e4·s` is within 1.4e-4 of `x`, and
  *     a value more than 1e-3 from a rounding tie rounds to the same
  *     integer on both. `x − floor(x)` is exact in this range, and
  *     `x + 0.5` rounds by at most 2^-13, too little to cross the
  *     integer it is more than 1e-3 away from;
  *   - otherwise (near-ties, null, NaN, ±Inf, past 2^40 including the
  *     decimal(18,4) overflow range) it is `dec(c)`'s own unscaled
  *     value (Catalyst's `UnscaledValue`, the read Spark's
  *     DecimalAggregates rule uses), so nulls and ANSI errors are
  *     exactly the old ones.
  * The unscaled values sum as two native long sums, `u >> 30` and
  * `u & (2^30 − 1)`, reassembled once per group as an exact integer
  * and scaled to the same decimal(28,4) ([[fromParts]]): every output
  * double is bit-identical to `sum(dec(c))`'s. The envelope is the old
  * one up to its top 1%: the high-part long sum overflows (an ANSI
  * error) past |sum| ≈ 2^93·1e-4 ≈ 9.9e23 instead of 1e24, and the low
  * part after 2^33 rows in one group. An all-null group gives null.
  * The aggregate buffer is two longs, so a streaming query restarted
  * from a checkpoint written by the decimal-buffer form fails Spark's
  * state-schema check (start it from a fresh checkpoint).
  */
object DecimalSums {

  val D: DecimalType = DecimalType(18, 4)

  /** Result type of an exact sum of [[dec]] values (= `sum(dec(c))`'s). */
  val S: DecimalType = DecimalType(28, 4)

  /** Row value under the convention (double-first, then decimal). */
  def dec(c: Column): Column = c.cast(DoubleType).cast(D)

  private val FastBound = math.pow(2, 40)
  private val TieMargin = 1e-3
  private val LoBits = 30

  /** Unscaled long of `dec(c)`: the fast path, else `dec(c)` itself
    * (see the object doc for why the two agree). */
  def unscaled(c: Column): Column = {
    val x = c.cast(DoubleType) * 1e4
    when(abs(x) < FastBound && abs(x - floor(x) - 0.5) > TieMargin,
        floor(x + 0.5))
      .otherwise(GraftSqlBridge.column(
        UnscaledValue(GraftSqlBridge.expression(dec(c)))))
  }

  /** `unscaled(c)` split as (`u >> 30`, `u & (2^30 − 1)`): two columns
    * whose separate long sums [[fromParts]] reassembles exactly. For
    * call shapes that take one (kind, column) pair per aggregate. */
  def parts(c: Column): (Column, Column) = {
    val u = unscaled(c)
    (shiftright(u, LoBits), u.bitwiseAND((1L << LoBits) - 1))
  }

  /** Exact decimal(28,4) sum from the sums of [[parts]]. */
  def fromParts(hiSum: Column, loSum: Column): Column = {
    val w = DecimalType(38, 0)
    ((hiSum.cast(w) * (1L << LoBits) + loSum.cast(w)) *
      lit(new java.math.BigDecimal("0.0001"))).cast(S)
  }

  /** Exact decimal(28,4) sum: the value and type of `sum(dec(c))`. */
  def decSum(c: Column): Column = {
    val (hi, lo) = parts(c)
    fromParts(sum(hi), sum(lo))
  }

  /** [[decSum]] as a window aggregate over `w`. */
  def decSumOver(c: Column, w: WindowSpec): Column = {
    val (hi, lo) = parts(c)
    fromParts(sum(hi).over(w), sum(lo).over(w))
  }

  /** Exact decimal sum surfaced as double. */
  def dsum(c: Column): Column = decSum(c).cast(DoubleType)

  /** avg = exact-decimal sum / count of non-null inputs. */
  def davg(c: Column): Column =
    decSum(c).cast(DoubleType) / count(c).cast(DoubleType)

  /** Wide-moment convention for Σx², Σxy-style sums whose row values
    * are PRODUCTS of (18,4) quantities: decimal(38,8) holds them
    * exactly and the sum stays order-proof. Combine moments in DOUBLE
    * (decimal×decimal at width 38 overflows DuckDB's multiply), and
    * convert each moment via [[asDouble]]. */
  val M: DecimalType = DecimalType(38, 8)

  def mdec(c: Column): Column = c.cast(DoubleType).cast(M)

  /** Decimal → double THROUGH A STRING. Once a decimal's unscaled value
    * passes 2^53, DuckDB's direct cast ((double)unscaled / 10^scale)
    * rounds twice and drifts an ulp from the JVM's conversion;
    * decimal→string is exact in both engines and string→double is
    * correctly rounded in both, so the hop makes the doubles
    * bit-identical. */
  def asDouble(c: Column): Column =
    c.cast(org.apache.spark.sql.types.StringType).cast(DoubleType)

  /** DuckDB text of [[dec]]. */
  def sqlDec(e: String): String =
    s"CAST(CAST(($e) AS DOUBLE) AS DECIMAL(18,4))"

  /** DuckDB text of [[mdec]]. */
  def sqlMdec(e: String): String =
    s"CAST(CAST(($e) AS DOUBLE) AS DECIMAL(38,8))"

  /** DuckDB text of [[asDouble]]. */
  def sqlAsDouble(e: String): String =
    s"CAST(CAST(($e) AS VARCHAR) AS DOUBLE)"

  /** DuckDB text of [[dsum]]. */
  def sqlDsum(e: String): String =
    s"CAST(SUM(${sqlDec(e)}) AS DOUBLE)"

  /** DuckDB text of [[davg]]. */
  def sqlDavg(e: String): String =
    s"CAST(SUM(${sqlDec(e)}) AS DOUBLE) / CAST(COUNT($e) AS DOUBLE)"

  /** DuckDB text of Spark's `round(double, 2)`. Spark's Round on a
    * DOUBLE rounds the value's SHORTEST DECIMAL REPRESENTATION
    * (`BigDecimal.valueOf` = `Double.toString`) HALF_UP; DuckDB's
    * ROUND rounds the binary value — at a shortest-rep `.xx5`
    * boundary they disagree by 0.01 (observed: e2's NATION_17 at
    * sf0.001, avg 33610.52/8 whose double prints "4201.315" → Spark
    * 4201.32, DuckDB ROUND 4201.31). Both engines print a double as
    * its shortest round-trip representation (the same VALUE, by
    * uniqueness), and DuckDB's VARCHAR→DECIMAL cast rounds
    * half-away-from-zero = Java HALF_UP for either sign, so the
    * string hop — [[asDouble]]'s trick in reverse — IS Spark's
    * rounding. Finite inputs only (an avg of finite decimals). */
  def sqlRound2(e: String): String =
    s"CAST(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,2)) AS DOUBLE)"
}

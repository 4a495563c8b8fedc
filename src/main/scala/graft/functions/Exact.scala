package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-exact aggregation helpers.
  *
  * The driver's correctness gate hash-compares Spark output against a
  * DuckDB oracle. A plain `sum(double)` is order-dependent (Spark sums
  * per-partition then merges; DuckDB sums in scan order), so the last few
  * ulps can differ and flip a hash. Summing an exact decimal instead makes
  * the result independent of accumulation order in BOTH engines; casting
  * the exact decimal result back to double is then deterministic.
  *
  * The matching DuckDB SQL fragments are produced by [[ExactSql]].
  *
  * The reference coerces every metric through `float(...)` and aggregates
  * with avg/max/sum (reference: src/main.py:51-93); these helpers are the
  * scale-safe restatement: still a single hash-aggregate with partial
  * (map-side) combine — no extra shuffle, exactness is free.
  */
object Exact {
  /** 6-decimal fixed-point: plenty for the testdata's 2-decimal doubles. */
  val Dec: DecimalType = DecimalType(28, 6)

  /** Order-independent sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast("double")

  /** [[dsum]] as a window aggregate over `w`. */
  def dsumOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(Dec)).over(w).cast("double")

  /** Order-independent mean: exact decimal sum / non-null count. */
  def davg(c: Column): Column = sum(c.cast(Dec)).cast("double") / count(c)

  /** avg rounded to `s` decimals (reference rounds DAM price to 2,
    * src/main.py:207) — rounding an exact-decimal mean is stable. */
  def davgRound(c: Column, s: Int): Column = round(davg(c), s)

  /** Order-independent sample variance: both moments accumulate as
    * exact decimals (x² of a 2-decimal input has 4 decimals — exact in
    * Dec), so Var = (Σx² − (Σx)²/n) / (n−1) is partitioning-invariant;
    * the one double division happens after the exact sums. Welford-style
    * streaming variance is NOT order-independent — the two-moment form
    * is the distributed-exactness answer, at the usual cancellation
    * price (fine at the testdata's value magnitudes). */
  def dvar(c: Column): Column = {
    // The square multiplies at (18,6)×(18,6) → (37,12): inside both
    // engines' 38-digit ceiling ((28,6)² would overflow DuckDB), and
    // x² of a ≤6-decimal input re-casts to Dec exactly.
    val d18 = c.cast(DecimalType(18, 6))
    val sx = sum(c.cast(Dec)).cast("double")
    val sxx = sum((d18 * d18).cast(Dec)).cast("double")
    (sxx - sx * sx / count(c)) / (count(c) - lit(1))
  }

  /** Order-independent sample standard deviation. */
  def dstd(c: Column): Column = sqrt(dvar(c))
}

/** DuckDB-SQL mirror of [[Exact]] for oracle strings. */
object ExactSql {
  def dsum(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE)"
  def davg(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) / COUNT($c)"
  def davgRound(c: String, s: Int): String = s"ROUND(${davg(c)}, $s)"
  def dvar(c: String): String = {
    val sx = s"CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE)"
    val sxx = s"CAST(SUM(CAST(CAST($c AS DECIMAL(18,6)) * CAST($c AS DECIMAL(18,6)) AS DECIMAL(28,6))) AS DOUBLE)"
    s"($sxx - $sx * $sx / COUNT($c)) / (COUNT($c) - 1)"
  }
  def dstd(c: String): String = s"sqrt(${dvar(c)})"
}

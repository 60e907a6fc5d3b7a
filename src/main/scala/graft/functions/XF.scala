package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine deterministic primitives.
  *
  * Every query in [[graft.SparkEntry.queries]] is hash-compared by the
  * driver against DuckDB running [[graft.SparkEntry.oracleSql]] on the same
  * parquet tables, so every computed value must be bit-identical (or
  * identical after a fixed rounding) across the two engines. The rules:
  *
  *   - IEEE-754 basic ops (+, -, *, /, sqrt) are correctly rounded in both
  *     engines, so chains of them on identical inputs are exact matches.
  *   - Transcendentals (ln, exp, pow) may differ in the last ulp — round
  *     such outputs to a fixed scale on both sides.
  *   - SUM over doubles is order-dependent; sum DECIMAL(28,6) instead
  *     (exact, associative) and cast the result back to double.
  *   - Hashing: `md5` produces the same lowercase hex in both engines; an
  *     8-hex-digit slice parsed as a long gives a shared 32-bit hash.
  *   - DuckDB bare literals like `1.0` are DECIMAL, not DOUBLE — oracle SQL
  *     must cast them explicitly.
  *
  * Each helper therefore comes in two flavors: a Spark [[Column]] and the
  * equivalent DuckDB SQL-string builder (suffix `Sql`).
  */
object XF {

  /** Shared 32-bit (non-negative, stored in a long) hash of a string:
    * 8 hex chars of md5 starting at 1-based `off`, parsed base-16.
    * DuckDB twin: [[h32Sql]].
    */
  def h32(c: Column, off: Int = 1): Column = h32Hex(md5(c), off)

  /** [[h32]] of an md5 hex digest already computed. */
  def h32Hex(digest: Column, off: Int): Column =
    conv(substring(digest, off, 8), 16, 10).cast(LongType)

  def h32Sql(e: String, off: Int = 1): String =
    s"CAST(('0x' || substr(md5($e), $off, 8)) AS BIGINT)"

  /** Order-independent exact sum of a double expression: accumulate as
    * DECIMAL(28,6) (cast rounds HALF_UP at 1e-6 in both engines; binary
    * doubles cannot sit exactly on a decimal tie point at that scale),
    * then cast the exact decimal total back to double.
    */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** The DuckDB twin routes decimal→double through VARCHAR: DuckDB's
    * direct decimal→double cast is NOT correctly rounded at large
    * magnitudes (measured at sf1: Σ o_totalprice = 375709892370.06
    * exactly-representable-adjacent, direct cast returns ...06006 — 1
    * ulp off; Spark's Decimal.toDouble and DuckDB's string→double
    * parse are both correctly rounded). The decimal SUM itself is
    * exact in both engines; only the final representation conversion
    * differed, and only above ~10¹¹ — the class of defect that is
    * invisible at the sf0.01 gate and exactly why the surface also
    * runs at sf1. `STRING`, not `VARCHAR`: this builder also feeds the
    * Spark-parsed `sql_*` twins, and both parsers accept STRING
    * (Spark rejects bare VARCHAR; both engines' string→double parse
    * is correctly rounded, so the Spark-side value is unchanged).
    */
  def dsumSql(e: String): String =
    s"CAST(CAST(SUM(CAST(($e) AS DECIMAL(28,6))) AS STRING) AS DOUBLE)"

  /** Deterministic average: exact decimal sum, one IEEE division. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  def davgSql(e: String): String = s"(${dsumSql(e)} / COUNT(*))"

  /** Fixed-scale rounding (HALF_UP in both engines) for values produced by
    * transcendental functions or order-dependent float sums.
    */
  def r4(c: Column): Column = round(c, 4)
  def r4Sql(e: String): String = s"ROUND(($e), 4)"
  def r6(c: Column): Column = round(c, 6)
  def r6Sql(e: String): String = s"ROUND(($e), 6)"

  /** Seconds-precision epoch as BIGINT (events ts has microseconds). */
  def epochS(c: Column): Column = unix_timestamp(c)
  def epochSSql(e: String): String = s"CAST(FLOOR(epoch($e)) AS BIGINT)"

  /** Microsecond epoch as BIGINT — exact, for session arithmetic. */
  def epochUs(c: Column): Column = unix_micros(c)
  def epochUsSql(e: String): String = s"epoch_us($e)"

  /** yyyy-MM-dd rendering of a timestamp (avoids timestamp columns in
    * outputs — parquet/DuckDB timestamp-tz round trips are compare-fragile).
    */
  def dateS(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def dateSSql(e: String): String = s"strftime($e, '%Y-%m-%d')"
}

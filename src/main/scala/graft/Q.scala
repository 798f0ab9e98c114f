package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum, when}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** One verifiable operator query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query over
  * the same parquet tables. The driver hash-compares the two at sf0.01.
  *
  * Determinism contract (so that value-hash comparison is exact):
  *   - every query ends in a total ORDER BY;
  *   - sums/avgs over doubles go through exact DECIMAL arithmetic
  *     (order-independent) and are cast back to DOUBLE at the end;
  *   - conditional counts use COUNT(CASE WHEN …) so both engines yield BIGINT;
  *   - integer-valued derived columns are cast to BIGINT on both sides.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** include in the Bench headline set */
    bench: Boolean = true,
    /** SETUP the timed run must not price (VERDICT r18 #2): builds the
      * row's persisted once-per-JVM artifacts — serve indexes, staged
      * warehouses — exactly as production builds yesterday's index before
      * today's batch arrives. Bench invokes it untimed before the cold
      * run; Verify and tests never need to (the run path lazily builds
      * the same artifact through the identical Fixtures key, so results
      * are byte-identical either way — prepare only moves WHERE the build
      * cost lands, never what is computed).
      */
    prepare: Option[(SparkSession, String) => Unit] = None)

object Q {
  /** A registry table of the sf dir, loaded the one way every row loads it. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact decimal sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 4))).cast(DoubleType)
  /** DuckDB SQL fragment: exact decimal sum of a double expr, as DOUBLE. */
  def dsumSql(c: String): String = s"CAST(SUM(CAST(($c) AS DECIMAL(25,4))) AS DOUBLE)"
  /** Exact average of a double column, returned as double. */
  def davg(c: Column): Column = dsum(c) / count(c)
  /** DuckDB SQL fragment: exact average of a double expr, as DOUBLE. */
  def davgSql(c: String): String = s"(${dsumSql(c)} / COUNT($c))"
  /** Order-independent exact mean of a ratio-scale double (12 dp). */
  def dravg(c: Column): Column =
    sum(c.cast(DecimalType(25, 12))).cast(DoubleType) / count(c)
  /** DuckDB SQL fragment: exact average of ratio-scale doubles (12 dp). */
  def dravgSql(c: String): String =
    s"(CAST(SUM(CAST(($c) AS DECIMAL(25,12))) AS DOUBLE) / COUNT($c))"
  /** BIGINT conditional count on both engines. */
  def cntIf(cond: Column): Column = count(when(cond, lit(1)))
}

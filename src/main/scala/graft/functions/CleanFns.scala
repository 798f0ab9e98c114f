package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure Column-level re-expressions of the reference's scalar cleaning
  * functions (SURVEY §2.8 F1–F16). Each is a codegen'd builtin composition —
  * no UDFs — so they stay inside whole-stage codegen at any scale.
  */
object CleanFns {

  /** Python str.strip() equivalent: ALL leading/trailing whitespace, not just
    * spaces (Spark's trim() strips ' ' only — tab-padded feed values slipped
    * through it; caught by FuzzSpec).
    */
  def wsTrim(c: Column): Column = regexp_replace(c, "(?U)^\\s+|\\s+$", "")

  /** F1 — price clean: strip '$', ',' and CR then cast DECIMAL(10,2).
    * Reference: /root/reference/sql/data/04_load_calendar.sql:30-36 and
    * modules/data_loader.py:163-166 (nested REPLACE chain).
    */
  def priceClean(c: Column): Column =
    regexp_replace(wsTrim(c), "[$,\r]", "").try_cast(DecimalType(10, 2))

  /** F3 — Monday week start / Sunday week end.
    * Reference: DATEADD(wk, DATEDIFF(wk, 0, d), 0) in
    * /root/reference/sql/data/04_load_calendar.sql:28-29 (epoch 1900-01-01 is
    * a Monday, so SQL Server weeks and Spark `date_trunc("week")` agree).
    */
  def weekStart(c: Column): Column = date_trunc("week", c).cast(DateType)
  def weekEnd(c: Column): Column   = date_add(weekStart(c), 6)

  /** F4 — date-part family (reference modules/data_loader.py:503-511).
    * Integer parts cast to LongType for cross-engine hash parity.
    */
  def dateParts(d: Column): Seq[(String, Column)] = Seq(
    "yr"         -> year(d).cast(LongType),
    "qtr"        -> quarter(d).cast(LongType),
    "mo"         -> month(d).cast(LongType),
    "month_name" -> date_format(d, "MMMM"),
    "dom"        -> dayofmonth(d).cast(LongType),
    "day_name"   -> date_format(d, "EEEE"),
    "is_weekend" -> dayofweek(d).isin(1, 7))

  /** F5 — boolean normalization ('t','true','1','y','yes' → true; inverse →
    * false; else null). Reference: modules/data_loader.py:168-174.
    */
  def normBool(c: Column): Column = {
    val v = lower(wsTrim(c))
    when(v.isin("t", "true", "1", "y", "yes"), lit(true))
      .when(v.isin("f", "false", "0", "n", "no"), lit(false))
      .otherwise(lit(null).cast(BooleanType))
  }

  /** F6 — 6-char id splits (reference modules/data_loader.py:292-300). */
  def idParts(c: Column): Seq[(String, Column)] = Seq(
    "part1" -> substring(c, 1, 6),
    "part2" -> substring(c, 7, 6),
    "part3" -> substring(c, 13, 6))

  /** F7 — sanitize_str: strip + max length (modules/data_loader.py:147-151). */
  def sanitizeStr(c: Column, maxLen: Int): Column = substring(wsTrim(c), 1, maxLen)

  /** F8 — numeric-string normalize: drop commas and trailing ".0"
    * (modules/data_loader.py:153-160).
    */
  def sanitizeNumStr(c: Column): Column =
    regexp_replace(regexp_replace(c, ",", ""), "\\.0$", "")

  /** F10 — host-location parse (reference modules/data_cleaner.py:48-65):
    * split on ',', trim each part, drop empties; >=2 parts → (city = init
    * parts joined with ", ", country = last); 1 part → (Unknown, it);
    * 0 parts → (Unknown, Unknown).
    */
  private def locParts(c: Column): Column =
    filter(transform(split(c, ","), x => wsTrim(x)), x => x =!= "")
  def locationCountry(c: Column): Column = {
    val p = locParts(c)
    when(size(p) >= 1, element_at(p, -1)).otherwise(lit("Unknown"))
  }
  def locationCity(c: Column): Column = {
    val p = locParts(c)
    when(size(p) >= 2, array_join(slice(p, lit(1), size(p) - 1), ", "))
      .otherwise(lit("Unknown"))
  }

  /** F12 — category normalization (reference US-state → country CASE-IN,
    * scripts/maintenance/pretreatment.py:14-22).
    */
  def normalizeIn(c: Column, members: Seq[String], to: String): Column =
    when(c.isin(members: _*), lit(to)).otherwise(c)

  /** F13 — is_local_host equality derivation (pretreatment.py:74-80). */
  def isLocal(a: Column, b: Column): Column = a === b
}

package graft.queries

import graft.Q
import graft.Q._
import graft.functions.CleanFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-function surface from SURVEY §2.8 (F1–F16) plus the dim_dates
  * generator. The fixture tables carry none of the reference's dirty string
  * formats, so each query synthesizes the reference's input shape from fixture
  * columns with deterministic expressions mirrored exactly in the oracle SQL,
  * then applies the CleanFns implementation.
  */
object FunctionQueries {

  val qs: Seq[Q] = Seq(

    // ----- F1: price clean (reference sql/data/04_load_calendar.sql:30-36)
    Q("q_f1_price_clean",
      (s, dir) => {
        val p = t(s, dir, "part")
        p.withColumn("price_raw",
            concat(lit("  $"), col("p_retailprice").cast(DecimalType(10, 2)).cast(StringType)))
          .withColumn("price_clean", CleanFns.priceClean(col("price_raw")).cast(DoubleType))
          .select(col("p_partkey"), col("price_raw"), col("price_clean"))
          .orderBy(col("p_partkey"))
      },
      Some("""
        SELECT p_partkey, price_raw,
               CAST(CAST(regexp_replace(trim(price_raw), '[$,\r]', '', 'g') AS DECIMAL(10,2)) AS DOUBLE) AS price_clean
        FROM (SELECT p_partkey,
                     '  $' || CAST(CAST(p_retailprice AS DECIMAL(10,2)) AS VARCHAR) AS price_raw
              FROM part) t
        ORDER BY p_partkey""")),

    // ----- F3: Monday week start / Sunday week end (reference sql/data/04_load_calendar.sql:28-29)
    Q("q_f3_week_trunc",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(CleanFns.weekStart(col("o_orderdate")).as("week_start"),
                   CleanFns.weekEnd(col("o_orderdate")).as("week_end"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_totalprice"))
          .orderBy(col("week_start")),
      Some(s"""
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
               CAST(CAST(date_trunc('week', o_orderdate) AS DATE) + INTERVAL 6 DAY AS DATE) AS week_end,
               COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS sum_totalprice
        FROM orders GROUP BY 1, 2 ORDER BY week_start""")),

    // ----- F4: date-part family (reference modules/data_loader.py:503-511)
    Q("q_f4_date_parts",
      (s, dir) => {
        val d = t(s, dir, "orders")
          .select(col("o_orderdate").cast(DateType).as("full_date")).distinct()
        CleanFns.dateParts(col("full_date"))
          .foldLeft(d) { case (df, (n, c)) => df.withColumn(n, c) }
          .orderBy(col("full_date"))
      },
      Some("""
        SELECT full_date,
               CAST(year(full_date) AS BIGINT) AS yr,
               CAST(quarter(full_date) AS BIGINT) AS qtr,
               CAST(month(full_date) AS BIGINT) AS mo,
               monthname(full_date) AS month_name,
               CAST(day(full_date) AS BIGINT) AS dom,
               dayname(full_date) AS day_name,
               (isodow(full_date) >= 6) AS is_weekend
        FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date FROM orders) t
        ORDER BY full_date""")),

    // ----- F5: boolean normalization (reference modules/data_loader.py:168-174)
    // ----- F15b: date arithmetic family — day diffs, day offsets, month
    // boundaries, ISO parts; operations chosen for identical semantics in
    // both engines (add_months-style month clamping is deliberately avoided)
    Q("q_f15_date_arith",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"),
            col("o_orderdate").cast(DateType).as("d"))
          .select(col("o_orderkey"),
            datediff(lit("1998-01-01").cast(DateType), col("d")).cast(LongType)
              .as("days_to_cutoff"),
            date_add(col("d"), 30).as("plus_30d"),
            last_day(col("d")).as("month_end"),
            dayofweek(col("d")).cast(LongType).as("dow"),
            weekofyear(col("d")).cast(LongType).as("iso_week"))
          .orderBy(col("o_orderkey")),
      Some("""
        SELECT o_orderkey,
               CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_cutoff,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus_30d,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
               CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week
        FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""")),

    // Cost note (the "1.4 s cold" of rounds 4-5, probed round 6): the math
    // here is trivial, but the events fixture is ONE 2 MB parquet file with
    // ONE row group — the scan is a single task decoding 100k rows of
    // high-entropy int64 (~0.2-0.3 s steady, measured equal for a bare
    // events count()). The remaining ~1.1 s appeared only in-suite (the
    // preceding query's deferred cleanup) and is now bounded by Bench's
    // cold>2×warm retry. At scale the same plan reads many row groups in
    // parallel, so the single-task floor is a fixture artifact, not a design
    // cost.
    Q("q_f5_bool_norm",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val raw = when(col("event_id") % 5 === 0, "t")
          .when(col("event_id") % 5 === 1, " True ")
          .when(col("event_id") % 5 === 2, "F")
          .when(col("event_id") % 5 === 3, "0")
          .otherwise("yes")
        ev.select(CleanFns.normBool(raw).as("avail"))
          .groupBy(col("avail")).agg(count(lit(1)).as("n"))
          .orderBy(col("avail"))
      },
      Some("""
        SELECT CASE WHEN lower(trim(raw)) IN ('t','true','1','y','yes') THEN TRUE
                    WHEN lower(trim(raw)) IN ('f','false','0','n','no') THEN FALSE
               END AS avail, COUNT(*) AS n
        FROM (SELECT CASE event_id % 5 WHEN 0 THEN 't' WHEN 1 THEN ' True '
                     WHEN 2 THEN 'F' WHEN 3 THEN '0' ELSE 'yes' END AS raw
              FROM events) t
        GROUP BY 1 ORDER BY avail""")),

    // ----- F6: 6-char id splits (reference modules/data_loader.py:292-300)
    Q("q_f6_id_split",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("raw_id", lpad((col("o_orderkey") * 7919).cast(StringType), 18, "0"))
        CleanFns.idParts(col("raw_id"))
          .foldLeft(o) { case (df, (n, c)) => df.withColumn(n, c) }
          .select(col("o_orderkey"), col("raw_id"), col("part1"), col("part2"), col("part3"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, raw_id,
               substring(raw_id, 1, 6) AS part1,
               substring(raw_id, 7, 6) AS part2,
               substring(raw_id, 13, 6) AS part3
        FROM (SELECT o_orderkey, lpad(CAST(o_orderkey * 7919 AS VARCHAR), 18, '0') AS raw_id
              FROM orders) t
        ORDER BY o_orderkey""")),

    // ----- F7 + F9: truncate/trim + LEN (reference modules/data_loader.py:147-151, 435-436)
    Q("q_f7_truncate",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("excerpt", CleanFns.sanitizeStr(col("text"), 80))
          .select(col("doc_id"), col("excerpt"),
                  length(col("excerpt")).cast(LongType).as("excerpt_len"))
          .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, substring(trim(text), 1, 80) AS excerpt,
               length(substring(trim(text), 1, 80)) AS excerpt_len
        FROM documents ORDER BY doc_id""")),

    // ----- F8: numeric-string normalize (reference modules/data_loader.py:153-160)
    Q("q_f8_numstr_roundtrip",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val raw = concat(lit(","), col("o_orderkey").cast(StringType), lit(".0"))
        val cleaned = CleanFns.sanitizeNumStr(raw).try_cast(LongType)
        o.select(col("o_orderkey").as("k"), cleaned.as("ck"))
          .agg(cntIf(col("ck") === col("k")).as("n_roundtrip"), count(lit(1)).as("n_rows"))
      },
      Some("""
        SELECT COUNT(CASE WHEN ck = k THEN 1 END) AS n_roundtrip, COUNT(*) AS n_rows
        FROM (SELECT o_orderkey AS k,
                     TRY_CAST(regexp_replace(regexp_replace(
                       ',' || CAST(o_orderkey AS VARCHAR) || '.0',
                       ',', '', 'g'), '\.0$', '') AS BIGINT) AS ck
              FROM orders) t""")),

    // ----- F9: LEN aggregation per group (reference language_detection.py:56)
    Q("q_f9_length_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("len", length(col("text")).cast(LongType))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), min(col("len")).as("min_len"),
               max(col("len")).as("max_len"),
               (sum(col("len")).cast(DoubleType) / count(lit(1))).as("avg_len"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(min(length(text)) AS BIGINT) AS min_len,
               CAST(max(length(text)) AS BIGINT) AS max_len,
               CAST(SUM(length(text)) AS DOUBLE) / COUNT(*) AS avg_len
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ----- F10: "City, Country" location parse (reference modules/data_cleaner.py:48-65)
    Q("q_f10_location_parse",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val loc = when(col("c_custkey") % 10 === 0, col("n_name"))
          .otherwise(concat(col("c_name"), lit(", "), col("n_name")))
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .withColumn("loc", loc)
          .withColumn("country", CleanFns.locationCountry(col("loc")))
          .withColumn("city", CleanFns.locationCity(col("loc")))
          .groupBy(col("country"))
          .agg(count(lit(1)).as("n"), cntIf(col("city") === "Unknown").as("n_unknown_city"))
          .orderBy(col("country"))
      },
      Some("""
        SELECT trim(regexp_extract(loc, '([^,]+)$', 1)) AS country,
               COUNT(*) AS n,
               COUNT(CASE WHEN (CASE WHEN strpos(loc, ',') > 0
                       THEN trim(regexp_replace(loc, ',[^,]*$', ''))
                       ELSE 'Unknown' END) = 'Unknown' THEN 1 END) AS n_unknown_city
        FROM (SELECT CASE WHEN c_custkey % 10 = 0 THEN n_name
                          ELSE c_name || ', ' || n_name END AS loc
              FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        GROUP BY 1 ORDER BY country""")),

    // ----- F12 + F13: CASE-IN normalization + is_local derivation
    // (reference scripts/maintenance/pretreatment.py:14-80)
    Q("q_f12_normalize_local",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        val americas = Seq("UNITED STATES", "CANADA", "BRAZIL", "ARGENTINA", "PERU")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .withColumn("nation_corrected",
            CleanFns.normalizeIn(col("n_name"), americas, "AMERICA"))
          .withColumn("is_local", CleanFns.isLocal(col("nation_corrected"), col("r_name")))
          .groupBy(col("r_name"))
          .agg(count(lit(1)).as("n"), cntIf(col("is_local")).as("n_local"))
          .orderBy(col("r_name"))
      },
      Some("""
        SELECT r_name, COUNT(*) AS n,
               COUNT(CASE WHEN (CASE WHEN n_name IN ('UNITED STATES','CANADA','BRAZIL','ARGENTINA','PERU')
                                     THEN 'AMERICA' ELSE n_name END) = r_name
                          THEN 1 END) AS n_local
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ----- F14: lenient date parse (reference modules/data_loader.py:433-434)
    Q("q_f14_try_date",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val ds = when(col("o_orderkey") % 10 === 0, lit("not-a-date"))
          .otherwise(col("o_orderdate").cast(DateType).cast(StringType))
        o.select(ds.try_cast(DateType).as("parsed"))
          .agg((count(lit(1)) - count(col("parsed"))).as("n_unparsed"),
               min(col("parsed")).as("min_date"), max(col("parsed")).as("max_date"))
      },
      Some("""
        SELECT COUNT(*) - COUNT(parsed) AS n_unparsed,
               min(parsed) AS min_date, max(parsed) AS max_date
        FROM (SELECT TRY_CAST(CASE WHEN o_orderkey % 10 = 0 THEN 'not-a-date'
                         ELSE CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END AS DATE) AS parsed
              FROM orders) t""")),

    // ----- dim_dates generator: sequence + explode + F4 attributes
    // (reference builds it row-by-row in Python, modules/data_loader.py:484-522;
    // here it's the engine's one generator/UDTF-shaped operator).
    Q("q_dim_dates",
      (s, dir) =>
        graft.operators.DatesDim.fromSpan(t(s, dir, "orders"), "o_orderdate")
          .orderBy(col("full_date")),
      Some("""
        WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                             CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
        d AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS full_date
              FROM span)
        SELECT full_date,
               CAST(row_number() OVER (ORDER BY full_date) AS BIGINT) AS date_id,
               CAST(year(full_date) AS BIGINT) AS yr,
               CAST(quarter(full_date) AS BIGINT) AS qtr,
               CAST(month(full_date) AS BIGINT) AS mo,
               monthname(full_date) AS month_name,
               CAST(day(full_date) AS BIGINT) AS dom,
               dayname(full_date) AS day_name,
               (isodow(full_date) >= 6) AS is_weekend
        FROM d ORDER BY full_date"""))
  )
}

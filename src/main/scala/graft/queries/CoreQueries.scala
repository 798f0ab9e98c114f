package graft.queries

import graft.Q
import graft.Q._
import graft.functions.CleanFns
import graft.operators.{AsOfJoin, Upsert}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operators from SURVEY §2.2–§2.7: projections/filters,
  * joins (inner/semi/anti/agg-to-detail/upsert), aggregations, windows,
  * sorts/limits/sampling, set ops. Each entry pairs the Spark plan with a
  * DuckDB oracle.
  *
  * Scale notes are on each query; the common ones: dims (region/nation/
  * customer/supplier/part) are broadcast explicitly so fact-side joins never
  * shuffle the fact; aggregates are hash-aggregates with map-side partials;
  * the only wide exchanges are on the declared grouping/join keys.
  */
object CoreQueries {

  /** Stands in an oracle for the `Fixtures.datasetKey` of the dataset dir
    * it runs over; `SparkEntry.oracleSql` binds it. */
  private[graft] val DatasetKeyToken = "SF_DATASET_KEY"

  /** Each click as-of joined to the user's purchases by `join(clicks,
    * purchases)`, an AsOfJoin.asof carrying the purchase value and ts. */
  private def clickAsOf(s: SparkSession, dir: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    join(clicks, purchases)
      .select(col("event_id"), col("user_id"),
              col("asof_value"), col("asof_ts"))
      .orderBy(col("event_id"))
  }

  val qs: Seq[Q] = Seq(

    // ----- A1 + F3: weekly hash-agg (reference sql/data/04_load_calendar.sql:24-46)
    Q("q_a1_weekly_agg",
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.groupBy(col("user_id"),
            date_trunc("week", col("ts")).cast(DateType).as("week_start"))
          .agg(
            count(lit(1)).as("n_events"),
            cntIf(col("event_type") === "click").as("n_clicks"),
            davg(col("value")).as("avg_value"),
            dsum(col("value")).as("sum_value"))
          .orderBy(col("user_id"), col("week_start"))
      },
      Some(s"""
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week_start,
               COUNT(*) AS n_events,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
               ${davgSql("value")} AS avg_value,
               ${dsumSql("value")} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY user_id, week_start""")),

    // ----- A2 + J1: multi-agg geo rollup (reference sql/schema/03_create_views.sql:14-56)
    Q("q_a2_geo_rollup",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("n_customers"),
            davg(col("c_acctbal")).as("avg_acctbal"),
            countDistinct(col("c_mktsegment")).as("n_segments"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some(s"""
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               ${davgSql("c_acctbal")} AS avg_acctbal,
               COUNT(DISTINCT c_mktsegment) AS n_segments
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ----- rollup totals (beyond the reference — no grouping sets exist
    // there, SURVEY §2.4 — but a warehouse user expects region/nation/total
    // rollups; nulls from the rollup are coalesced to 'ALL' so cross-engine
    // ordering is deterministic)
    Q("q_a11_rollup",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
          .select(coalesce(col("r_name"), lit("ALL")).as("region"),
                  coalesce(col("n_name"), lit("ALL")).as("nation"),
                  col("n_customers"), col("sum_acctbal"))
          .orderBy(col("region"), col("nation"))
      },
      Some(s"""
        SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
               COUNT(*) AS n_customers, ${dsumSql("c_acctbal")} AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
        ORDER BY region, nation""")),

    // ----- CUBE over two dims (completes the grouping-sets family with A11)
    Q("q_a12_cube",
      (s, dir) =>
        t(s, dir, "events")
          .cube(col("event_type"),
                date_format(col("ts"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
                  coalesce(col("month"), lit("ALL")).as("month"), col("n"))
          .orderBy(col("event_type"), col("month")),
      Some("""
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(month, 'ALL') AS month, COUNT(*) AS n
        FROM (SELECT event_type, strftime(ts, '%Y-%m') AS month FROM events) t
        GROUP BY CUBE(event_type, month)
        ORDER BY event_type, month""")),

    // ----- JSON extraction from the props column (the typed alternative to
    // q_p4's regex scrape; modern pipelines carry JSON side-channels)
    Q("q_json_extract",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val k = get_json_object(col("props"), "$.k").try_cast(LongType)
        ev.select(k.as("k"), col("event_type"))
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n_with_k"), min(col("k")).as("min_k"),
               max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type, COUNT(k) AS n_with_k, min(k) AS min_k, max(k) AS max_k,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                     event_type
              FROM events) t
        GROUP BY event_type ORDER BY event_type""")),

    // ----- A3: per-key count (reference sql/data/02_load_hosts.sql:26-32)
    Q("q_a3_per_key_count",
      (s, dir) =>
        t(s, dir, "orders").groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_totalprice"))
          .orderBy(col("o_custkey")),
      Some(s"""
        SELECT o_custkey, COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS sum_totalprice
        FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

    // ----- A4: duplicate-key detection (reference scripts/debug/check_duplicates.py:6-12)
    Q("q_a4_dup_keys",
      (s, dir) =>
        t(s, dir, "events").groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .orderBy(col("n").desc, col("user_id"), col("event_type")),
      Some("""
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
        ORDER BY n DESC, user_id, event_type""")),

    // ----- A5: global MIN/MAX span (reference scripts/analysis/get_date_span.py:21)
    Q("q_a5_minmax_span",
      (s, dir) =>
        t(s, dir, "orders").agg(
          min(col("o_orderdate").cast(DateType)).as("first_order"),
          max(col("o_orderdate").cast(DateType)).as("last_order"),
          count(lit(1)).as("n_orders")),
      Some("""
        SELECT CAST(min(o_orderdate) AS DATE) AS first_order,
               CAST(max(o_orderdate) AS DATE) AS last_order,
               COUNT(*) AS n_orders
        FROM orders""")),

    // ----- A6: conditional counts / audit counts (reference modules/data_loader.py:233-240)
    Q("q_a6_conditional_counts",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.agg(
          count(lit(1)).as("n_rows"),
          cntIf(col("l_discount") > 0.05).as("n_high_discount"),
          cntIf(col("l_returnflag") === "R").as("n_returns"),
          cntIf(col("l_quantity") >= 25.0).as("n_bulk"))
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_discount,
               COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returns,
               COUNT(CASE WHEN l_quantity >= 25.0 THEN 1 END) AS n_bulk
        FROM lineitem""")),

    // ----- A7: COUNT(DISTINCT) (reference sql/data/02_load_hosts.sql:4)
    Q("q_a7_count_distinct",
      (s, dir) =>
        t(s, dir, "customer").groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
               countDistinct(col("c_nationkey")).as("n_nations"))
          .orderBy(col("c_mktsegment")),
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               COUNT(DISTINCT c_nationkey) AS n_nations
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ----- A8: EDA profile (reference modules/data_analyzer.py:109-125)
    Q("q_a8_profile",
      (s, dir) =>
        t(s, dir, "customer").agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("c_custkey")).as("d_custkey"),
          countDistinct(col("c_name")).as("d_name"),
          countDistinct(col("c_nationkey")).as("d_nationkey"),
          countDistinct(col("c_acctbal")).as("d_acctbal"),
          countDistinct(col("c_mktsegment")).as("d_mktsegment"),
          (count(lit(1)) - count(col("c_acctbal"))).as("nulls_acctbal")),
      Some("""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT c_custkey) AS d_custkey,
               COUNT(DISTINCT c_name) AS d_name,
               COUNT(DISTINCT c_nationkey) AS d_nationkey,
               COUNT(DISTINCT c_acctbal) AS d_acctbal,
               COUNT(DISTINCT c_mktsegment) AS d_mktsegment,
               COUNT(*) - COUNT(c_acctbal) AS nulls_acctbal
        FROM customer""")),

    // ----- A8 (complete): pandas describe() mean/std, decimal-exact sums with
    // only the final divide/sqrt in double (reference utils/utility.py:179-194;
    // quartiles are approx-sketch-only → spec'd in OperatorsSpec, not oracled)
    Q("q_a8_profile_stats",
      (s, dir) => {
        val acct = col("c_acctbal")
        val n = count(acct)
        val sm = sum(acct.cast(DecimalType(25, 4))).cast(DoubleType)
        val sq = sum(acct.cast(DecimalType(18, 4)) * acct.cast(DecimalType(18, 4)))
          .cast(DoubleType)
        t(s, dir, "customer").agg(
          n.as("n_acctbal"),
          (sm / n).as("mean_acctbal"),
          sqrt((sq - sm * sm / n) / (n - lit(1))).as("std_acctbal"))
      },
      Some("""
        SELECT COUNT(c_acctbal) AS n_acctbal,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(c_acctbal) AS mean_acctbal,
               sqrt((CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     - CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE)
                       * CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(c_acctbal))
                    / (COUNT(c_acctbal) - 1)) AS std_acctbal
        FROM customer""")),

    // ----- S4+S7 roundtrip: pipe-delimited csv.gz sink + all-string scan
    // (reference modules/data_cleaner.py:146 + modules/data_loader.py:133).
    // The query WRITES the fixture from the nation parquet, re-reads it with
    // the S4 scan, and the oracle re-reads the same files with DuckDB's
    // read_csv — the S-family's only DuckDB-visible hard gate.
    Q("q_s4_pipe_roundtrip",
      (s, dir) => {
        val fixture = "/tmp/graft_fixtures/pipe_nation"
        graft.airbnb.Sources.writePipeCsv(t(s, dir, "nation"), fixture)
        graft.airbnb.Sources.readPipeCsv(s, fixture)
          .select(col("n_nationkey").cast(LongType).as("n_nationkey"),
                  col("n_name"),
                  col("n_regionkey").cast(LongType).as("n_regionkey"))
          .orderBy(col("n_nationkey"))
      },
      Some("""
        SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
               CAST(n_regionkey AS BIGINT) AS n_regionkey
        FROM read_csv('/tmp/graft_fixtures/pipe_nation/*.csv.gz',
                      delim='|', header=true, all_varchar=true)
        ORDER BY n_nationkey""")),

    // ----- (beyond ref) JSONL roundtrip: the LLM-corpus interchange format.
    // Spark writes documents as gzip'd newline-delimited JSON; Spark reads
    // it back schema-pinned while DuckDB reads the SAME files — any
    // escaping/encoding divergence between writer and either reader
    // hash-mismatches. The files are scoped to the dataset dir, so the
    // oracle never reads the rows of another scale's run.
    Q("q_jsonl_roundtrip",
      (s, dir) => {
        val fixture = s"/tmp/graft_fixtures/jsonl_documents/${graft.Fixtures.datasetKey(dir)}"
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        graft.airbnb.Sources.writeJsonl(docs, fixture)
        graft.airbnb.Sources.readJsonl(s, docs.schema, fixture + "/*.json.gz")
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast(LongType).as("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM read_json('/tmp/graft_fixtures/jsonl_documents/$DatasetKeyToken/*.json.gz',
                       format='newline_delimited')
        ORDER BY doc_id""")),

    // ----- A13: per-group quantile binning (feature bucketing) — ntile over a
    // per-segment window with a TOTAL order, so bucket assignment is
    // deterministic and identical across engines. Partitioned window: scales
    // (a global ntile would single-partition; per-key binning never does).
    Q("q_a13_ntile_binning",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer")
          .withColumn("quartile", ntile(4).over(w).cast(LongType))
          .groupBy(col("c_mktsegment"), col("quartile"))
          .agg(count(lit(1)).as("n"), davg(col("c_acctbal")).as("avg_bal"))
          .orderBy(col("c_mktsegment"), col("quartile"))
      },
      Some("""
        SELECT c_mktsegment, quartile, COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
        FROM (SELECT c_mktsegment, c_acctbal,
                     CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
              FROM customer) t
        GROUP BY c_mktsegment, quartile ORDER BY c_mktsegment, quartile""")),

    // ----- A14: per-group z-score normalization (feature engineering) —
    // windowed decimal-exact sums, only the final divide/sqrt in double, so
    // the standardized values are bit-identical across engines without any
    // rounding crutch.
    Q("q_a14_group_zscore",
      (s, dir) => {
        val acct = col("c_acctbal")
        val w = Window.partitionBy(col("c_mktsegment"))
        val n = count(acct).over(w)
        val sm = sum(acct.cast(DecimalType(25, 4))).over(w).cast(DoubleType)
        val sq = sum(acct.cast(DecimalType(18, 4)) * acct.cast(DecimalType(18, 4)))
          .over(w).cast(DoubleType)
        val mean = sm / n
        val std = sqrt((sq - sm * sm / n) / (n - lit(1)))
        t(s, dir, "customer")
          .withColumn("zscore", (acct.cast(DoubleType) - mean) / std)
          .select(col("c_custkey"), col("c_mktsegment"), col("zscore"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment,
               (CAST(c_acctbal AS DOUBLE) - sm / n) / sqrt((sq - sm * sm / n) / (n - 1)) AS zscore
        FROM (SELECT c_custkey, c_mktsegment, c_acctbal,
                     COUNT(c_acctbal) OVER w AS n,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) OVER w AS DOUBLE) AS sm,
                     CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sq
              FROM customer
              WINDOW w AS (PARTITION BY c_mktsegment)) t
        ORDER BY c_custkey""")),

    // ----- A15: pivot (wide counts per nation × segment). Spark's pivot with
    // an explicit value list = conditional aggregation; count over an empty
    // cell is NULL in Spark but 0 in SQL COUNT(CASE …), hence the coalesce.
    Q("q_a15_pivot",
      (s, dir) => {
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        val wide = t(s, dir, "customer")
          .groupBy(col("c_nationkey"))
          .pivot("c_mktsegment", segs)
          .agg(count(lit(1)))
        wide.select(col("c_nationkey") +:
            segs.map(g => coalesce(col(g), lit(0L)).cast(LongType).as(g.toLowerCase)): _*)
          .orderBy(col("c_nationkey"))
      },
      Some("""
        SELECT c_nationkey,
               COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS automobile,
               COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS building,
               COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS furniture,
               COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS household,
               COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS machinery
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // ----- A16: unpivot/melt (wide → long), the inverse reshape
    Q("q_a16_unpivot",
      (s, dir) => {
        val wide = t(s, dir, "customer")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).cast(DoubleType).as("n_customers"),
               davg(col("c_acctbal")).as("avg_bal"))
        wide.unpivot(Array(col("c_mktsegment")),
                     Array(col("n_customers"), col("avg_bal")),
                     "metric", "v")
          .orderBy(col("c_mktsegment"), col("metric"))
      },
      Some("""
        WITH wide AS (
          SELECT c_mktsegment,
                 CAST(COUNT(*) AS DOUBLE) AS n_customers,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
          FROM customer GROUP BY c_mktsegment)
        SELECT c_mktsegment, metric, v FROM (
          SELECT c_mktsegment, 'n_customers' AS metric, n_customers AS v FROM wide
          UNION ALL
          SELECT c_mktsegment, 'avg_bal' AS metric, avg_bal AS v FROM wide) t
        ORDER BY c_mktsegment, metric""")),

    // ----- A17: ordered collect (set-valued aggregation rendered stable):
    // sort_array(collect_list(…)) — collection order is partition-dependent,
    // sorting makes the aggregate deterministic and cross-engine comparable
    Q("q_a17_collect_sorted",
      (s, dir) =>
        t(s, dir, "nation")
          .groupBy(col("n_regionkey").cast(LongType).as("n_regionkey"))
          .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
          .orderBy(col("n_regionkey")),
      Some("""
        SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
               array_to_string(list_sort(list(n_name)), ',') AS nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ----- A9: value-counts top-k (reference modules/data_cleaner.py:131-135)
    Q("q_a9_value_counts",
      (s, dir) =>
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("event_type")),
      Some("""
        SELECT event_type, COUNT(*) AS n FROM events
        GROUP BY event_type ORDER BY n DESC, event_type""")),

    // ----- P1 + P8: static projection + range predicate (reference
    // modules/data_cleaner.py:164-186; modules/data_loader.py:489).
    // Both the 4-column ReadSchema and the shipdate filter reach the scan.
    Q("q_p1_projection_range",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate").cast(DateType)
            .between(lit("1995-01-01"), lit("1995-06-30")))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                  col("l_extendedprice"))
          .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
        ORDER BY l_orderkey, l_linenumber""")),

    // ----- P4 + F2: TRY_CAST validity gate (reference modules/data_loader.py:269)
    Q("q_p4_trycast_gate",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val k = regexp_extract(col("props"), "(\\d+)", 1).try_cast(LongType)
        ev.select(k.as("k"))
          .agg(count(col("k")).as("n_valid"),
               (count(lit(1)) - count(col("k"))).as("n_invalid"),
               sum(col("k")).as("sum_k"))
      },
      Some("""
        SELECT COUNT(k) AS n_valid, COUNT(*) - COUNT(k) AS n_invalid,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT TRY_CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k
              FROM events) t""")),

    // ----- P5: non-empty-text predicate (reference scripts/app/language_detection.py:56)
    Q("q_p5_nonempty_text",
      (s, dir) =>
        t(s, dir, "documents")
          .filter(col("text").isNotNull && length(col("text")) > 200)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        FROM documents WHERE text IS NOT NULL AND length(text) > 200
        GROUP BY lang ORDER BY lang""")),

    // ----- P7: high-null-column rule (reference modules/data_analyzer.py:196-207)
    Q("q_p7_null_ratio",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .withColumn("seg_n", expr("nullif(c_mktsegment, 'BUILDING')"))
        c.agg(
          ((count(lit(1)) - count(col("seg_n"))).cast(DoubleType) / count(lit(1)))
            .as("null_ratio_seg"),
          ((count(lit(1)) - count(col("c_acctbal"))).cast(DoubleType) / count(lit(1)))
            .as("null_ratio_acctbal"))
      },
      Some("""
        SELECT CAST(COUNT(*) - COUNT(nullif(c_mktsegment, 'BUILDING')) AS DOUBLE) / COUNT(*) AS null_ratio_seg,
               CAST(COUNT(*) - COUNT(c_acctbal) AS DOUBLE) / COUNT(*) AS null_ratio_acctbal
        FROM customer""")),

    // ----- J1: FK-filter inner join before aggregate (reference sql/data/04_load_calendar.sql:41-46)
    Q("q_j1_join_fk_filter",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o  = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               ${dsumSql("l_quantity")} AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ----- J2: multi-hop join with cast-in-condition (reference sql/data/05_load_reviews.sql:42-43)
    Q("q_j2_multi_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o  = t(s, dir, "orders")
        val c  = t(s, dir, "customer")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"),
                   year(col("o_orderdate")).cast(LongType).as("order_year"))
          .agg(count(lit(1)).as("n_items"),
               dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("c_mktsegment"), col("order_year"))
      },
      Some(s"""
        SELECT c_mktsegment, CAST(year(o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_items,
               ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2 ORDER BY c_mktsegment, order_year""")),

    // ----- J3: left-anti dedup-vs-target (reference sql/data/05_load_reviews.sql:55-56)
    Q("q_j3_left_anti",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")),

    // ----- J4: anti via NOT IN shape (reference scripts/app/run_move_steps.py:28)
    Q("q_j4_anti_not_in",
      (s, dir) => {
        val p  = t(s, dir, "part")
        val li = t(s, dir, "lineitem")
        p.join(li, col("p_partkey") === col("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"))
          .orderBy(col("p_partkey"))
      },
      Some("""
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_partkey IS NOT NULL)
        ORDER BY p_partkey""")),

    // ----- J5: semi via IN shape (reference scripts/debug/debug_calendar_match.py:72-75)
    Q("q_j5_semi",
      (s, dir) => {
        val sup = t(s, dir, "supplier")
        val li  = t(s, dir, "lineitem")
        sup.join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
          .orderBy(col("s_suppkey"))
      },
      Some("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
        ORDER BY s_suppkey""")),

    // ----- J6: aggregate-to-detail join (reference sql/data/02_load_hosts.sql:25-32)
    Q("q_j6_agg_detail_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val counts = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        c.join(counts, col("c_custkey") === col("o_custkey"))
          .select(col("c_custkey"), col("c_name"), col("n_orders"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_name, n_orders
        FROM customer
        JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) oc
          ON c_custkey = oc.o_custkey
        ORDER BY c_custkey""")),

    // ----- J7 + A10: MERGE upsert rewrite (reference modules/data_loader.py:251-310)
    Q("q_j7_upsert_merge",
      (s, dir) => {
        val (staging, current) = upsertInputs(s, dir)
        Upsert.merge(staging, current, Seq("c_custkey"))
          .select(col("c_custkey"), col("c_acctbal"), col("action"))
          .orderBy(col("c_custkey"))
      },
      Some(s"""$upsertCte
        SELECT c_custkey, c_acctbal, action FROM merged ORDER BY c_custkey""")),

    Q("q_a10_merge_action_counts",
      (s, dir) => {
        val (staging, current) = upsertInputs(s, dir)
        Upsert.merge(staging, current, Seq("c_custkey"))
          .groupBy(col("action")).agg(count(lit(1)).as("n"))
          .orderBy(col("action"))
      },
      Some(s"""$upsertCte
        SELECT action, COUNT(*) AS n FROM merged GROUP BY action ORDER BY action""")),

    // ----- J8: update-from-join / coalesce overwrite (reference scripts/app/language_detection.py:107-115)
    Q("q_j8_update_from_join",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val detected = d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("u_doc_id"),
                  concat(lit("det_"), col("lang")).as("new_lang"))
        d.join(detected, col("doc_id") === col("u_doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("new_lang"), col("lang")).as("lang_final"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, coalesce(u.new_lang, d.lang) AS lang_final
        FROM documents d
        LEFT JOIN (SELECT doc_id AS u_doc_id, 'det_' || lang AS new_lang
                   FROM documents WHERE doc_id % 2 = 0) u
          ON d.doc_id = u.u_doc_id
        ORDER BY doc_id""")),

    // ----- W1: dedup latest-wins window (reference sql/data/02_load_hosts.sql:7-16)
    Q("q_w1_dedup_latest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
          .orderBy(col("user_id"))
      },
      Some("""
        SELECT user_id, event_id, event_type, value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1 ORDER BY user_id""")),

    // ----- W2: dedup arbitrary-survivor, pinned deterministic (reference sql/data/05_load_reviews.sql:41)
    Q("q_w2_dedup_arbitrary",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("event_id"))
        ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"), col("event_id"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""
        SELECT user_id, event_type, event_id FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                      ORDER BY event_id) AS rn
          FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_type""")),

    // ----- W3: the custom bounded-heap TopKPerGroup PHYSICAL operator under
    // the hard oracle gate (was spec-only): top-3 events per user by value,
    // total order via the event_id tie-break — result must equal the
    // row_number window formulation DuckDB runs.
    Q("q_w3_topk_per_group",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_id"), col("value"))
        graft.plans.TopKPerGroup.topK(ev, Seq("user_id"),
            Seq(("value", true), ("event_id", false)), 3)
          .select(col("user_id"), col("event_id"), col("rank").as("rnk"))
          .orderBy(col("user_id"), col("rnk"))
      },
      Some("""
        SELECT user_id, event_id, CAST(rn AS BIGINT) AS rnk FROM (
          SELECT user_id, event_id, row_number() OVER (PARTITION BY user_id
                   ORDER BY value DESC, event_id) AS rn
          FROM events) t
        WHERE rn <= 3 ORDER BY user_id, rnk""")),

    // ----- O6: GLOBAL top-k through the same operator's two-phase path
    // (per-partition bounded heaps + one merge task — never a
    // single-partition global sort).
    Q("q_o6_global_topk",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_id"), col("value"))
        graft.plans.TopKPerGroup.topK(ev, Nil,
            Seq(("value", true), ("event_id", false)), 10)
          .select(col("user_id"), col("event_id"), col("rank").as("rnk"))
          .orderBy(col("rnk"))
      },
      Some("""
        SELECT user_id, event_id, CAST(rn AS BIGINT) AS rnk FROM (
          SELECT user_id, event_id, row_number() OVER (
                   ORDER BY value DESC, event_id) AS rn
          FROM events) t
        WHERE rn <= 10 ORDER BY rnk""")),

    // ----- W7: frame-clause family — running total (unbounded-preceding
    // frame), lead, first/last value over the full partition — one (orderkey)
    // shuffle serves all four. l_quantity is integer-valued, so the running
    // double sums are exact on both engines (every prefix < 2^53).
    Q("q_w7_running_frame",
      (s, dir) => {
        val wRun = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
        val wAll = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") < 2000)
          .withColumn("running_qty", sum(col("l_quantity")).over(wRun))
          .withColumn("next_qty", coalesce(lead(col("l_quantity"), 1).over(wOff), lit(-1.0)))
          .withColumn("first_qty", first(col("l_quantity")).over(wAll))
          .withColumn("last_qty", last(col("l_quantity")).over(wAll))
          .select(col("l_orderkey"), col("l_linenumber").cast(LongType).as("l_linenumber"),
            col("running_qty"), col("next_qty"), col("first_qty"), col("last_qty"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               SUM(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
               COALESCE(LEAD(l_quantity, 1) OVER (PARTITION BY l_orderkey
                 ORDER BY l_linenumber), -1.0) AS next_qty,
               FIRST_VALUE(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_qty,
               LAST_VALUE(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_qty
        FROM lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_linenumber""")),

    // ----- W5: lag delta (per-user event-over-event change) — offset window
    // function with a total order; the first row's delta is NULL on both sides
    Q("q_w5_lag_delta",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .filter(col("user_id") < 50)
          .withColumn("delta",
            coalesce(col("value") - lag(col("value"), 1).over(w), lit(0.0)))
          .select(col("user_id"), col("event_id"), col("delta"))
          .orderBy(col("user_id"), col("event_id"))
      },
      // first event per user has no predecessor → delta 0 (comparator rows
      // must be NULL-free; same coalesce on both sides)
      Some("""
        SELECT user_id, event_id,
               coalesce(value - lag(value, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id), 0.0) AS delta
        FROM events WHERE user_id < 50
        ORDER BY user_id, event_id""")),

    // ----- W6: percent_rank + cume_dist (distributional ranking) under a
    // total order — (rank-1)/(n-1) and ≤-fraction are the SQL-standard
    // definitions in both engines, so the doubles are bit-identical
    Q("q_w6_percent_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        t(s, dir, "customer")
          .filter(col("c_custkey") <= 200)
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .select(col("c_custkey"), col("c_mktsegment"), col("pr"), col("cd"))
          .orderBy(col("c_custkey"))
      },
      Some("""
        SELECT c_custkey, c_mktsegment,
               percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
        FROM customer WHERE c_custkey <= 200
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey""")),

    // ----- A18: explicit GROUPING SETS + grouping_id (the general form of
    // the rollup/cube family; exercised through the SQL surface, where the
    // clause lives)
    Q("q_a18_grouping_sets",
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("gs_customer")
        // grouped-out columns are NULL in grouping-set rows → coalesce to
        // sentinels so comparator rows stay NULL-free
        s.sql("""
          SELECT coalesce(c_mktsegment, '(all)') AS seg,
                 CAST(coalesce(c_nationkey, -1) AS BIGINT) AS nation,
                 CAST(grouping_id(c_mktsegment, c_nationkey) AS BIGINT) AS gid,
                 COUNT(*) AS n
          FROM gs_customer
          GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
          ORDER BY gid, seg, nation""")
      },
      Some("""
        SELECT coalesce(c_mktsegment, '(all)') AS seg,
               CAST(coalesce(c_nationkey, -1) AS BIGINT) AS nation,
               CAST(grouping(c_mktsegment) * 2 + grouping(c_nationkey) AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY gid, seg, nation""")),

    // ----- A19: equal-width histogram — pure arithmetic binning (the
    // scalable form: one hash-agg, no sort, no per-bin scans)
    Q("q_a19_histogram",
      (s, dir) =>
        t(s, dir, "customer")
          .withColumn("bin",
            floor((col("c_acctbal") - lit(-1000.0)) / lit(500.0)).cast(LongType))
          .groupBy(col("bin")).agg(count(lit(1)).as("n"))
          .orderBy(col("bin")),
      Some("""
        SELECT CAST(floor((c_acctbal - (-1000.0)) / 500.0) AS BIGINT) AS bin,
               COUNT(*) AS n
        FROM customer GROUP BY 1 ORDER BY bin""")),

    // ----- W4: trailing moving average (time-series smoothing) — a framed
    // window (ROWS BETWEEN) with a total order and decimal-exact sums
    Q("q_w4_moving_avg",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-2, 0)
        t(s, dir, "events")
          .filter(col("user_id") < 50)
          .withColumn("mov_avg",
            sum(col("value").cast(DecimalType(25, 4))).over(w).cast(DoubleType)
              / count(col("value")).over(w))
          .select(col("user_id"), col("event_id"), col("mov_avg"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(25,4))) OVER w AS DOUBLE)
                 / COUNT(value) OVER w AS mov_avg
        FROM events WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""")),

    // ----- as-of join (beyond the reference; the canonical "operator Spark
    // lacks"): for each click, the user's most recent prior-or-simultaneous
    // purchase. Composed as union + running window (operators.AsOfJoin, one
    // shuffle); DuckDB verifies with its native ASOF JOIN.
    Q("q_asof_join",
      (s, dir) => clickAsOf(s, dir)(AsOfJoin.asof(_, _, "user_id", "ts", "ts",
        Seq("value", "ts"))),
      Some("""
        SELECT l.event_id, l.user_id, r.value AS asof_value, r.ts AS asof_ts
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        ASOF JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
        ORDER BY l.event_id""")),

    // ----- FORWARD as-of join: for each click, the user's NEXT purchase
    // at-or-after it — the other half of the merge_asof surface (same
    // union+window shape, traversal reversed). Oracle: argmin-over-window
    // formulation (portable regardless of DuckDB ASOF direction support).
    Q("q_asof_forward",
      (s, dir) => clickAsOf(s, dir)(AsOfJoin.asof(_, _, "user_id", "ts", "ts",
        Seq("value", "ts"), forward = true)),
      Some("""
        WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        j AS (
          SELECT l.event_id, l.user_id, r.value, r.ts AS rts,
                 row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts ASC) AS rn
          FROM l JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts)
        SELECT event_id, user_id, value AS asof_value, rts AS asof_ts
        FROM j WHERE rn = 1 ORDER BY event_id""")),

    // ----- as-of join with a TOLERANCE: the most recent prior purchase
    // counts only within 6 hours — the staleness bound every real
    // point-in-time feature join carries (a quote from last week must not
    // enrich today's trade). Map-side post-filter on the carried right time.
    Q("q_asof_tolerance",
      (s, dir) => clickAsOf(s, dir)(AsOfJoin.asof(_, _, "user_id", "ts", "ts",
        Seq("value", "ts"), tolerance = Some(expr("INTERVAL 6 HOUR")))),
      Some("""
        WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
        j AS (
          SELECT l.event_id, l.user_id, r.value, r.ts AS rts,
                 row_number() OVER (PARTITION BY l.event_id ORDER BY r.ts DESC) AS rn
          FROM l JOIN r ON l.user_id = r.user_id
            AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 6 HOUR)
        SELECT event_id, user_id, value AS asof_value, rts AS asof_ts
        FROM j WHERE rn = 1 ORDER BY event_id""")),

    // ----- banded range join (beyond the reference): events counted inside
    // synthesized 6h–18h maintenance windows on every 3rd day. Spark joins
    // on a day band + exact filter (operators.RangeJoin — a hash join, not
    // the nested-loop an inequality join would plan); DuckDB verifies with a
    // plain inequality join (its IEJoin handles it natively).
    Q("q_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val iv = ev.filter(dayofmonth(col("ts")) % 3 === 0)
          .select(date_trunc("day", col("ts")).cast(DateType).as("interval_day")).distinct()
          .withColumn("start_ts", expr("CAST(interval_day AS TIMESTAMP_NTZ) + INTERVAL 6 HOUR"))
          .withColumn("end_ts", expr("CAST(interval_day AS TIMESTAMP_NTZ) + INTERVAL 18 HOUR"))
        graft.operators.RangeJoin.pointInInterval(
            ev.select(col("ts"), col("event_id"), col("value")), "ts",
            iv, "start_ts", "end_ts")
          .groupBy(col("interval_day"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .orderBy(col("interval_day"))
      },
      Some(s"""
        WITH iv AS (
          SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS interval_day
          FROM events WHERE day(ts) % 3 = 0
        ), iv2 AS (
          SELECT interval_day,
                 CAST(interval_day AS TIMESTAMP) + INTERVAL 6 HOUR AS start_ts,
                 CAST(interval_day AS TIMESTAMP) + INTERVAL 18 HOUR AS end_ts
          FROM iv)
        SELECT interval_day, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
        FROM iv2 JOIN events e ON e.ts >= start_ts AND e.ts <= end_ts
        GROUP BY interval_day ORDER BY interval_day""")),

    // ----- O1: TOP-n preview (reference scripts/analysis/query_db.py:53)
    Q("q_o1_limit",
      (s, dir) =>
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey")).limit(10),
      Some("""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_orderkey LIMIT 10""")),

    // ----- O2: ORDER BY + TOP k (TakeOrderedAndProject; reference scripts/debug/query_staging.py:12)
    Q("q_o2_topk",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
          .limit(20),
      Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""")),

    // ----- O3/O4: sampling — deterministic key-mod stand-in for the
    // reference's seeded 80% cap (modules/data_loader.py:428-431). The true
    // Bernoulli sample(0.8, seed) is library surface (tested in specs);
    // engines' PRNGs differ so the oracle uses the key-mod form.
    Q("q_o3_sample_cap",
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_orderkey") % 10 < 8)
        o.agg(count(lit(1)).as("n_sampled"), dsum(col("o_totalprice")).as("sum_totalprice"))
      },
      Some(s"""
        SELECT COUNT(*) AS n_sampled, ${dsumSql("o_totalprice")} AS sum_totalprice
        FROM orders WHERE o_orderkey % 10 < 8""")),

    // ----- interpolated quantiles per group (pandas describe() kin; exact
    // `percentile` ≡ DuckDB quantile_cont — both use (n-1)·q linear
    // interpolation). The engines' formulas differ in float ((1-d)·lo + d·hi
    // vs lo + d·(hi-lo)) but the 6dp round is SAFE here, not merely hopeful:
    // for quartile q on 2-decimal fixture values, d ∈ {0, ¼, ½, ¾} exactly,
    // so the true quantile is a multiple of 0.0025 — representable on the
    // 1e-6 grid, never within an ulp of a .5e-6 rounding boundary.
    Q("q_a20_median",
      (s, dir) =>
        t(s, dir, "events").groupBy(col("event_type"))
          .agg(round(expr("percentile(value, 0.25)"), 6).as("p25_value"),
            round(expr("percentile(value, 0.5)"), 6).as("median_value"),
            round(expr("percentile(value, 0.75)"), 6).as("p75_value"))
          .orderBy(col("event_type")),
      Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS p25_value,
               round(quantile_cont(value, 0.5), 6) AS median_value,
               round(quantile_cont(value, 0.75), 6) AS p75_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ----- covariance + correlation from DECIMAL-EXACT moments (never the
    // built-in corr/covar: those sum raw doubles, whose value depends on
    // partition order). Operands are shifted by constants near their means —
    // cov/corr are shift-invariant, the decimal sums stay exact, and the
    // (sxy − sx·sy/n) subtraction loses no precision because sx,sy ≈ 0: any
    // last-ulp difference between the engines' decimal→double casts lands at
    // ~1e-16 RELATIVE to already-small moments, ~1e9 below the 6dp rounding
    // grid, instead of being amplified by catastrophic cancellation of two
    // ~1e11 magnitudes. The final double formula is written identically on
    // both engines so every IEEE op runs in the same order.
    Q("q_a21_cov_corr",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val x = col("l_quantity").cast(DecimalType(18, 4)) - 25
        val y = col("l_extendedprice").cast(DecimalType(18, 4)) - 38000
        li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast(DoubleType).as("sx"), sum(y).cast(DoubleType).as("sy"),
            sum(x * y).cast(DoubleType).as("sxy"),
            sum(x * x).cast(DoubleType).as("sxx"),
            sum(y * y).cast(DoubleType).as("syy"))
          .select(col("l_returnflag"),
            col("n"),
            round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6)
              .as("cov_pop"),
            round(((col("sxy") - col("sx") * col("sy") / col("n")) / col("n")) /
              (sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")) *
               sqrt((col("syy") - col("sy") * col("sy") / col("n")) / col("n"))), 6)
              .as("corr"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        WITH m AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) AS DOUBLE) AS syy
          -- DECIMAL(19,4): one digit wider than Spark's (18,4) purely so
          -- DuckDB stores the operands as INT128 — its (18,4)·(18,4) product
          -- would overflow int64 physical storage. Both forms are exact.
          -- Shifts match the Spark side (cov/corr are shift-invariant).
          FROM (SELECT l_returnflag,
                       CAST(l_quantity AS DECIMAL(19,4)) - 25 AS x,
                       CAST(l_extendedprice AS DECIMAL(19,4)) - 38000 AS y
                FROM lineitem) t
          GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               round((sxy - sx * sy / n) / n, 6) AS cov_pop,
               round(((sxy - sx * sy / n) / n) /
                 (sqrt((sxx - sx * sx / n) / n) * sqrt((syy - sy * sy / n) / n)), 6) AS corr
        FROM m ORDER BY l_returnflag""")),

    // ----- Set op: unionByName (introduced by our J7 rewrite; SURVEY §2.7)
    Q("q_u1_union",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_name").as("name"), lit("customer").as("src"))
        val sup = t(s, dir, "supplier").select(col("s_name").as("name"), lit("supplier").as("src"))
        c.unionByName(sup).orderBy(col("name"), col("src"))
      },
      Some("""
        SELECT name, src FROM (
          SELECT c_name AS name, 'customer' AS src FROM customer
          UNION ALL
          SELECT s_name AS name, 'supplier' AS src FROM supplier) t
        ORDER BY name, src""")),

    // ----- Set op: INTERSECT (SURVEY §2.7) — nations that have both
    // customers and suppliers. Spark plans a left-semi-style hash join per
    // side; no sort-based set logic.
    Q("q_u2_intersect",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .orderBy(col("nationkey")),
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
        ORDER BY nationkey""")),

    // ----- Set op: EXCEPT (SURVEY §2.7) — distinct-set difference with an
    // anti-join plan. The right side excludes the '1-URGENT' rows so the
    // result is non-empty BY CONSTRUCTION at every fixture scale: an EXCEPT
    // implementation that wrongly returned the empty set (or forgot to
    // dedup) would fail the gate, which a data-dependent predicate whose
    // true answer happens to be empty could never detect.
    Q("q_u3_except",
      (s, dir) =>
        t(s, dir, "orders").select(col("o_orderpriority").as("priority"))
          .except(t(s, dir, "orders")
            .filter(col("o_orderpriority") =!= "1-URGENT")
            .select(col("o_orderpriority").as("priority")))
          .orderBy(col("priority")),
      Some("""
        SELECT o_orderpriority AS priority FROM orders
        EXCEPT
        SELECT o_orderpriority FROM orders WHERE o_orderpriority <> '1-URGENT'
        ORDER BY priority""")),

    // ----- set ops, bag semantics: INTERSECT ALL / EXCEPT ALL keep
    // multiplicities (min / difference of per-value counts) — the variant a
    // reconciliation actually needs when duplicates are signal. Same
    // hash-partition-on-value shuffle as the DISTINCT forms.
    Q("q_u4_intersect_all",
      (s, dir) =>
        t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
          .intersectAll(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
          .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
          .orderBy(col("nationkey")),
      Some("""
        SELECT nationkey, COUNT(*) AS n FROM (
          SELECT c_nationkey AS nationkey FROM customer
          INTERSECT ALL
          SELECT s_nationkey FROM supplier) t
        GROUP BY nationkey ORDER BY nationkey""")),

    Q("q_u5_except_all",
      (s, dir) =>
        t(s, dir, "orders").select(col("o_orderpriority").as("priority"))
          .exceptAll(t(s, dir, "orders")
            .filter(col("o_custkey") % 2 === 0)
            .select(col("o_orderpriority").as("priority")))
          .groupBy(col("priority")).agg(count(lit(1)).as("n"))
          .orderBy(col("priority")),
      Some("""
        SELECT priority, COUNT(*) AS n FROM (
          SELECT o_orderpriority AS priority FROM orders
          EXCEPT ALL
          SELECT o_orderpriority FROM orders WHERE o_custkey % 2 = 0) t
        GROUP BY priority ORDER BY priority""")),

    // ----- FULL OUTER join: nations appearing on either side of the
    // customer/supplier split, with per-side counts and NULL-preserving
    // mismatch accounting — completes the join-type family (inner, left,
    // semi, anti, full). Aggregate-then-join keeps the outer join on two
    // 25-row inputs; the raw fact tables never shuffle through it.
    Q("q_j9_full_outer",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_nationkey") < 20)
          .groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_cust"))
        val sup = t(s, dir, "supplier").filter(col("s_nationkey") >= 5)
          .groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_supp"))
        c.withColumnRenamed("nationkey", "c_nk")
          .join(sup.withColumnRenamed("nationkey", "s_nk"),
            col("c_nk") === col("s_nk"), "full_outer")
          .select(coalesce(col("c_nk"), col("s_nk")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy(col("nationkey"))
      },
      Some("""
        WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
                   FROM customer WHERE c_nationkey < 20 GROUP BY 1),
             s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
                   FROM supplier WHERE s_nationkey >= 5 GROUP BY 1)
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust,
               COALESCE(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        ORDER BY nationkey""")),

    // ----- IQR outlier detection with NEAREST-RANK quartiles: the
    // data-cleaning gate before training-set statistics. Quartiles are exact
    // order statistics (row_number at ceil(n/4) / ceil(3n/4)) on
    // DECIMAL-cast values, so q1/q3/fences are engine-exact integers-on-a-
    // grid — no interpolated-percentile float whose last ulp could flip a
    // fence comparison between engines. Scale shape: one windowed pass to
    // rank (shuffle on event_type), a 5-row bounds frame broadcast back
    // onto the fact — the detail table never shuffles twice.
    Q("q_outlier_iqr",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("event_id"),
            col("value").cast(DecimalType(18, 6)).as("v"))
        // ONE exchange (r20): the quartiles ride the SAME event_type
        // partitioning as the rank window (min-over-window of the
        // nearest-rank row), and the outlier counts are a groupBy on the
        // windowed frame — the prior shape re-joined a broadcast bounds
        // frame onto a second scan (5 jobs; and AQE's small-data
        // coalescing ran the rank window as ONE serial task, so the
        // repartition pins the per-type parallelism too).
        val wT = Window.partitionBy(col("event_type"))
        val wR = wT.orderBy(col("v"), col("event_id"))
        val ranked = ev
          .repartition(s.sparkContext.defaultParallelism, col("event_type"))
          .withColumn("r", row_number().over(wR))
          .withColumn("n", count(lit(1)).over(wT))
        // Tukey fences scaled by 2 so every comparison is integer-weighted
        // decimal (lo = q1 - 1.5*IQR = (5*q1 - 3*q3)/2): no 1.5 literal,
        // whose decimal-vs-double typing differs between engines.
        val withQ = ranked
          .withColumn("q1",
            min(when(col("r") === ceil(col("n") / 4.0), col("v"))).over(wT))
          .withColumn("q3",
            min(when(col("r") === ceil(col("n") * 3.0 / 4.0), col("v"))).over(wT))
          .withColumn("lo2", col("q1") * 5 - col("q3") * 3)
          .withColumn("hi2", col("q3") * 5 - col("q1") * 3)
        withQ.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            count(when(col("v") * 2 < col("lo2") || col("v") * 2 > col("hi2"), 1))
              .as("n_outliers"),
            (min(col("lo2")).cast(DoubleType) / 2).as("lo_fence"),
            (min(col("hi2")).cast(DoubleType) / 2).as("hi_fence"))
          // repartition(1), NOT coalesce(1) (ADVICE r20 medium): coalesce is
          // a narrow dependency, so with no exchange between the windows/agg
          // (which reuse the repartition's hashpartitioning) and the
          // coalesce, the WHOLE post-shuffle stage — rank window, quartile
          // windows, aggregate — ran as ONE task, defeating the repartition
          // above (FixedCostProbe: 126 ms 1-task final stage). The exchange
          // here moves only the bounded per-type aggregate rows.
          .repartition(1).sortWithinPartitions(col("event_type"))
      },
      Some("""
        WITH ev AS (
          SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS v
          FROM events
        ), ranked AS (
          SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS r,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM ev
        ), qs AS (
          SELECT event_type, min(v) AS q1, max(v) AS q3
          FROM ranked
          WHERE r = CAST(ceil(n / 4.0) AS BIGINT)
             OR r = CAST(ceil(n * 3.0 / 4.0) AS BIGINT)
          GROUP BY event_type
        ), bounds AS (
          SELECT event_type, q1 * 5 - q3 * 3 AS lo2, q3 * 5 - q1 * 3 AS hi2
          FROM qs)
        SELECT ev.event_type, COUNT(*) AS n_events,
               COUNT(CASE WHEN v * 2 < lo2 OR v * 2 > hi2 THEN 1 END) AS n_outliers,
               CAST(min(lo2) AS DOUBLE) / 2 AS lo_fence,
               CAST(min(hi2) AS DOUBLE) / 2 AS hi_fence
        FROM ev JOIN bounds ON ev.event_type = bounds.event_type
        GROUP BY ev.event_type ORDER BY ev.event_type""")),

    // ----- gap-based sessionization: assign session ids per user (a new
    // session starts after a >30-min silence), then one row per session.
    // The classic batch twin of streaming session windows
    // (q_stream_session_batch aggregates; this MATERIALIZES the session
    // assignment so downstream work can key on it). All time math is
    // integer microseconds (unix_micros / epoch_us) — engine-exact. Scale
    // shape: one shuffle on user_id shared by both windows and the final
    // group-by; sessions per user are bounded by the data's own gap
    // structure, never a cross-window product.
    Q("q_sessionize_gap",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            // ts is TIMESTAMP_NTZ; session tz is pinned UTC, so the cast is
            // the identity wall-clock mapping and epoch micros match DuckDB's
            // epoch_us on the naive timestamp exactly
            unix_micros(col("ts").cast(TimestampType)).as("us"))
          .withColumn("new_sess",
            when(lag(col("us"), 1).over(w).isNull ||
                 col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sess_id",
            sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("us")).as("start_us"), max(col("us")).as("end_us"),
            dsum(col("value")).as("sum_value"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some(s"""
        WITH ev AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events
        ), marked AS (
          SELECT user_id, event_id, value, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), sessed AS (
          SELECT user_id, value, us,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM marked)
        SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
               COUNT(*) AS n_events,
               min(us) AS start_us, max(us) AS end_us,
               ${dsumSql("value")} AS sum_value
        FROM sessed GROUP BY user_id, sess_id
        ORDER BY user_id, sess_id""")),

    // ----- (beyond ref) ordered TIME-WINDOWED funnel: per user, the first
    // signup, the first view within 6 h AFTER it, the first purchase within
    // 6 h after that — the classic ordered-conversion funnel with per-step
    // deadlines (the unwindowed form is vacuous on this fixture: every user
    // eventually does everything; the 6 h windows make the stages BIND —
    // 135/13/2 at gate scale). All three stage times come from chained
    // conditional MIN windows over ONE user_id partition (the sessionize
    // discipline: one exchange shared by every window), in integer
    // microseconds so both engines compare exactly.
    Q("q_funnel_steps",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
        val winUs = 6L * 3600 * 1000000 // 6 h per step
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts").cast(TimestampType)).as("us"))
          .withColumn("t1",
            min(when(col("event_type") === "signup", col("us"))).over(w))
          .withColumn("t2",
            min(when(col("event_type") === "view" && col("us") > col("t1")
              && col("us") <= col("t1") + winUs, col("us"))).over(w))
          .withColumn("t3",
            min(when(col("event_type") === "purchase" && col("us") > col("t2")
              && col("us") <= col("t2") + winUs, col("us"))).over(w))
          .groupBy(col("user_id"))
          .agg(min(col("t1")).as("t1_us"), min(col("t2")).as("t2_us"),
            min(col("t3")).as("t3_us"))
          .withColumn("reached",
            when(col("t3_us").isNotNull, 3L).when(col("t2_us").isNotNull, 2L)
              .when(col("t1_us").isNotNull, 1L).otherwise(0L))
          .select(col("user_id"), col("reached"), col("t1_us"), col("t2_us"),
            col("t3_us"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id,
                 MIN(CASE WHEN event_type = 'signup' THEN us END) AS t1
               FROM ev GROUP BY user_id),
        s2 AS (SELECT ev.user_id,
                 MIN(CASE WHEN event_type = 'view' AND us > t1
                          AND us <= t1 + 21600000000 THEN us END) AS t2
               FROM ev JOIN s1 USING (user_id) GROUP BY ev.user_id),
        s3 AS (SELECT ev.user_id,
                 MIN(CASE WHEN event_type = 'purchase' AND us > t2
                          AND us <= t2 + 21600000000 THEN us END) AS t3
               FROM ev JOIN s2 USING (user_id) GROUP BY ev.user_id)
        SELECT user_id,
               CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                         WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached,
               t1 AS t1_us, t2 AS t2_us, t3 AS t3_us
        FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        ORDER BY user_id""")),

    // ----- (beyond ref) weekly cohort retention on the CONVERSION event:
    // cohort = week of a user's first purchase; each (cohort, week-offset)
    // cell counts the cohort's users purchasing that week — the
    // product-analytics retention triangle (keying on all events is
    // vacuous on this fixture: one cohort, flat 100%; purchase-keyed it
    // yields two cohorts with real decay at gate scale). Two hash-aggs
    // (per-user first week, then the cell count) plus one user-keyed join;
    // offsets are integer day-diffs DIV 7, engine-exact.
    Q("q_cohort_retention",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            CleanFns.weekStart(col("ts").cast(DateType)).as("wk"))
        val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
        ev.distinct().join(first, "user_id")
          .withColumn("week_offset",
            expr("CAST(datediff(wk, cohort) DIV 7 AS BIGINT)"))
          .groupBy(col("cohort"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy(col("cohort"), col("week_offset"))
      },
      Some("""
        WITH ev AS (SELECT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
                    WHERE event_type = 'purchase'),
        f AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY user_id),
        a AS (SELECT DISTINCT user_id, wk FROM ev)
        SELECT cohort,
               CAST(date_diff('day', cohort, wk) // 7 AS BIGINT) AS week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        FROM a JOIN f USING (user_id)
        GROUP BY cohort, week_offset ORDER BY cohort, week_offset""")),

    // ----- (beyond ref) event-transition matrix: per-user consecutive
    // event-type pairs (the empirical Markov transitions behind session
    // modeling / next-event prediction). One user_id exchange for the lag
    // window; the 5×5 matrix aggregate is map-side-combined.
    Q("q_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts").cast(TimestampType)).as("us"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("prev"), col("event_type"))
      },
      Some("""
        WITH o AS (SELECT user_id, event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev
                   FROM events)
        SELECT prev, event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM o WHERE prev IS NOT NULL
        GROUP BY prev, event_type ORDER BY prev, event_type""")),

    // ----- (beyond ref) time-series resample + gap fill: weekly order
    // counts/sums per priority for the HIGH-VALUE slice (totalprice >
    // 400000 — 290 of 1725 grid cells are empty at gate scale, so the fill
    // paths BIND), on a complete week grid (count-fill with zero,
    // last-observation-carried-forward for the weekly sum). The grid is a
    // 1-row bounds aggregate crossed with the distinct groups — never a
    // per-row explode of the span; the ffill window partitions per group.
    Q("q_resample_ffill",
      (s, dir) => {
        val f = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_orderpriority").as("p"),
            CleanFns.weekStart(col("o_orderdate")).as("wk"),
            col("o_totalprice"))
        val weekly = f.groupBy(col("p"), col("wk"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(25, 4)))
              .cast(DoubleType).as("wsum"))
        val bounds = f.agg(min(col("wk")).as("minw"), max(col("wk")).as("maxw"))
        val grid = f.select(col("p")).distinct()
          .crossJoin(broadcast(bounds))
          .select(col("p"), explode(
            expr("sequence(minw, maxw, interval 7 days)")).as("wk"))
        val wf = Window.partitionBy(col("p")).orderBy(col("wk"))
          .rowsBetween(Window.unboundedPreceding, 0)
        grid.join(weekly, Seq("p", "wk"), "left")
          .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
          .withColumn("sum_ffill", last(col("wsum"), ignoreNulls = true).over(wf))
          .select(col("p"), col("wk"), col("n_orders"), col("sum_ffill"))
          .orderBy(col("p"), col("wk"))
      },
      Some("""
        WITH f AS (SELECT o_orderpriority AS p,
                     CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
                     o_totalprice
                   FROM orders WHERE o_totalprice > 400000),
        weekly AS (SELECT p, wk, CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS wsum
                   FROM f GROUP BY p, wk),
        b AS (SELECT MIN(wk) AS minw, MAX(wk) AS maxw FROM f),
        grid AS (SELECT p, CAST(g.wk AS DATE) AS wk
                 FROM (SELECT DISTINCT p FROM f),
                      (SELECT unnest(generate_series(minw, maxw, INTERVAL 7 DAY)) AS wk
                       FROM b) g)
        SELECT p, wk, COALESCE(weekly.n_orders, 0) AS n_orders,
               last_value(wsum IGNORE NULLS) OVER (PARTITION BY p ORDER BY wk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_ffill
        FROM grid LEFT JOIN weekly USING (p, wk)
        ORDER BY p, wk""")),

    // ----- (beyond ref) A/B test significance: Pearson chi-square over the
    // variant × conversion contingency table (variant = user_id parity;
    // conversion = any purchase with value > 150 — 36/39 vs 31/44 at gate
    // scale, a real table). n·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) is a
    // RATIONAL in the counts: both sides are exact integer products
    // (DECIMAL(38) against overflow at cluster scale) and the statistic is
    // ONE division of exact values — bit-identical across engines, where
    // the usual sqrt/normal-approx formulations would drift. Two hash-aggs
    // (per-user conversion, then the 1-row table); no window, no join.
    Q("q_ab_chi2",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1L)
            .otherwise(0L)).as("conv"))
          .withColumn("variant", pmod(col("user_id"), lit(2L)))
          .agg(
            count(when(col("variant") === 0 && col("conv") === 1, 1)).as("a"),
            count(when(col("variant") === 0 && col("conv") === 0, 1)).as("b"),
            count(when(col("variant") === 1 && col("conv") === 1, 1)).as("c"),
            count(when(col("variant") === 1 && col("conv") === 0, 1)).as("d"))
          .withColumn("n", expr("a + b + c + d"))
          // try_divide: a zero margin gives a NULL statistic (as DuckDB's
          // double division does) instead of an ANSI DIVIDE_BY_ZERO
          .withColumn("chi2", expr(
            """try_divide(CAST(CAST(n AS DECIMAL(38,0)) * (a*d - b*c) * (a*d - b*c) AS DOUBLE),
               CAST(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d) AS DOUBLE))"""))
          .select(col("a"), col("b"), col("c"), col("d"), col("n"), col("chi2"))
          .orderBy(col("a")),
      Some("""
        WITH conv AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'purchase' AND value > 150
                     THEN 1 ELSE 0 END) AS cv
          FROM events GROUP BY user_id),
        x AS (SELECT
                COUNT(CASE WHEN user_id % 2 = 0 AND cv = 1 THEN 1 END) AS na,
                COUNT(CASE WHEN user_id % 2 = 0 AND cv = 0 THEN 1 END) AS nb,
                COUNT(CASE WHEN user_id % 2 = 1 AND cv = 1 THEN 1 END) AS nc,
                COUNT(CASE WHEN user_id % 2 = 1 AND cv = 0 THEN 1 END) AS nd
              FROM conv)
        SELECT na AS a, nb AS b, nc AS c, nd AS d,
               CAST(na + nb + nc + nd AS BIGINT) AS n,
               CAST(CAST(na + nb + nc + nd AS DECIMAL(38,0))
                    * (na*nd - nb*nc) * (na*nd - nb*nc) AS DOUBLE)
                 / CAST(CAST(na + nb AS DECIMAL(38,0)) * (nc + nd)
                        * (na + nc) * (nb + nd) AS DOUBLE) AS chi2
        FROM x ORDER BY a""")),

    // ----- (beyond ref, §2.11 family) snapshot table diff — the CDC export
    // a warehouse emits after each load so subscribers never re-read the
    // world. One full-outer key shuffle; null-safe column compare map-side.
    // The new snapshot is derived in-query on both engines: %13 keys
    // deleted, %7 prices bumped (updates), %11 keys re-inserted shifted
    // (inserts).
    Q("q_table_diff",
      (s, dir) => {
        val old = t(s, dir, "orders")
        val upd = old.filter(col("o_orderkey") % 13 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 100)
              .otherwise(col("o_totalprice")))
        val ins = old.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        graft.operators.TableDiff.diff(old, upd.unionByName(ins), Seq("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH newt AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 100
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 13 <> 0
          UNION ALL
          SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                 o_totalprice, o_orderdate, o_orderpriority
          FROM orders WHERE o_orderkey % 11 = 0)
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN (o.o_custkey IS DISTINCT FROM n.o_custkey)
                      OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                      OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                      OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
                      OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                    THEN 'update' END AS change
        FROM orders o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
        WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
               OR (o.o_custkey IS DISTINCT FROM n.o_custkey)
               OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
               OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
               OR (o.o_orderdate IS DISTINCT FROM n.o_orderdate)
               OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority))
        ORDER BY o_orderkey""")),

    // ----- (beyond ref) declarative data-quality checks in ONE job: each
    // row-level predicate is a conditional count in a single aggregate —
    // adding a check costs zero extra scans. negative_balance is the
    // deliberately nonzero row (TPC-H carries negative balances).
    Q("q_quality_checks",
      (s, dir) =>
        graft.operators.QualityChecks.run(t(s, dir, "customer"), Seq(
            "acctbal_out_of_range" -> !col("c_acctbal").between(-999.99, 9999.99),
            "bad_segment" -> !col("c_mktsegment").isin(
              "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
            "name_format" -> !col("c_name").startsWith("Customer#"),
            "negative_balance" -> (col("c_acctbal") < 0),
            "null_custkey" -> col("c_custkey").isNull))
          .orderBy(col("check_name")),
      Some("""
        SELECT 'acctbal_out_of_range' AS check_name,
               COUNT(CASE WHEN NOT (c_acctbal BETWEEN -999.99 AND 9999.99) THEN 1 END) AS n_violations
        FROM customer
        UNION ALL
        SELECT 'bad_segment',
               COUNT(CASE WHEN c_mktsegment NOT IN
                 ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY') THEN 1 END)
        FROM customer
        UNION ALL
        SELECT 'name_format',
               COUNT(CASE WHEN c_name NOT LIKE 'Customer#%' THEN 1 END)
        FROM customer
        UNION ALL
        SELECT 'negative_balance', COUNT(CASE WHEN c_acctbal < 0 THEN 1 END)
        FROM customer
        UNION ALL
        SELECT 'null_custkey', COUNT(CASE WHEN c_custkey IS NULL THEN 1 END)
        FROM customer
        ORDER BY check_name""")),

    // ----- quantile-sketch error bound: percentile_approx (Greenwald-Khanna
    // in Spark) vs the exact rank, per group, at accuracy 1000. The sketch's
    // contract is rank error <= n/accuracy; the query computes the approx
    // median's EXACT rank window (n_lt, n_le) with a second pass and asserts
    // the bound in exact integer arithmetic — the HLL treatment
    // (q_text_hll_distinct) applied to quantiles. The oracle pins group
    // sizes exactly and the bound as a literal: if Spark's sketch ever
    // drifts past its contract, within_bound flips false and reds the row.
    Q("q_sketch_quantile",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_quantity").cast(DoubleType).as("v"))
        val est = li.groupBy(col("flag"))
          .agg(percentile_approx(col("v"), lit(0.5), lit(1000)).as("__m"),
            count(lit(1)).as("n"))
        li.join(broadcast(est), "flag")
          .groupBy(col("flag"), col("n"))
          .agg(count(when(col("v") < col("__m"), lit(1))).as("__n_lt"),
            count(when(col("v") <= col("__m"), lit(1))).as("__n_le"))
          // rank(med) in (n_lt, n_le]; require overlap with
          // [n/2 - n/1000 - 1, n/2 + n/1000 + 1] — all integer, scaled x2000
          .withColumn("within_bound",
            (col("__n_lt") * 2000 <= col("n") * 1002 + 2000) &&
            (col("__n_le") * 2000 >= col("n") * 998 - 2000))
          .select(col("flag"), col("n"), col("within_bound"))
          .orderBy(col("flag"))
      },
      Some("""
        SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n,
               true AS within_bound
        FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ----- z-order (Morton) clustering arithmetic, oracle-checked: bin two
    // event dimensions to 8 bits each from their global min/max, interleave
    // the bits, and aggregate per curve segment. Both engines replay the
    // identical IEEE-double binning ((x-lo)/((hi-lo)/256), floor, clamp) and
    // integer interleave, so the z values — the data-skipping sort key
    // ZOrder.cluster writes by — are pinned bit-for-bit. The per-segment
    // row counts show the curve's balance; the write path itself is spec'd
    // in ZOrderSpec (file layout isn't DuckDB-expressible).
    Q("q_zorder_locality",
      (s, dir) => {
        val ev = t(s, dir, "events")
        ev.withColumn("__z",
            graft.operators.ZOrder.zValue(ev, Seq("user_id", "value"), 8))
          .groupBy(expr("__z DIV 1024").as("z_bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("__z")).as("min_z"), max(col("__z")).as("max_z"))
          .orderBy(col("z_bucket"))
      },
      Some {
        val interleave = (0 until 8).flatMap { b =>
          Seq(s"(((ub >> $b) & 1) << ${2 * b})",
              s"(((vb >> $b) & 1) << ${2 * b + 1})")
        }.mkString(" + ")
        s"""
        WITH mm AS (
          SELECT CAST(min(user_id) AS DOUBLE) AS ulo,
                 CAST(max(user_id) AS DOUBLE) AS uhi,
                 min(value) AS vlo, max(value) AS vhi
          FROM events),
        binned AS (
          SELECT least(255, greatest(0, CAST(floor(
                   (CAST(user_id AS DOUBLE) - ulo) / ((uhi - ulo) / 256))
                   AS BIGINT))) AS ub,
                 least(255, greatest(0, CAST(floor(
                   (value - vlo) / ((vhi - vlo) / 256)) AS BIGINT))) AS vb
          FROM events, mm),
        z AS (SELECT CAST($interleave AS BIGINT) AS z FROM binned)
        SELECT z // 1024 AS z_bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
               min(z) AS min_z, max(z) AS max_z
        FROM z GROUP BY 1 ORDER BY 1"""
      }),

    // ----- incremental aggregate maintenance: the orders rollup is built
    // from two disjoint ingest slices as mergeable partial states (count /
    // decimal-sum / min / max), merged, and finalized — and must equal the
    // direct full-table aggregate the oracle computes. There is no
    // "matches" boolean: the VALUES are the check. This is the
    // materialized-rollup upkeep path (IncrementalAgg) a 100 TB warehouse
    // uses instead of nightly rescans.
    Q("q_agg_incremental",
      (s, dir) => {
        import graft.operators.IncrementalAgg
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        val base = o.filter(col("o_orderkey") % 10 =!= 9)
        val late = o.filter(col("o_orderkey") % 10 === 9)
        val merged = IncrementalAgg.merge(
          IncrementalAgg.partials(base, Seq("o_orderpriority"), "o_totalprice"),
          IncrementalAgg.partials(late, Seq("o_orderpriority"), "o_totalprice"),
          Seq("o_orderpriority"))
        IncrementalAgg.finalize(merged)
          .select(col("o_orderpriority"), col("n"), col("sum_v"),
            col("avg_v"), col("mn"), col("mx"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""
        SELECT o_orderpriority, CAST(COUNT(o_totalprice) AS BIGINT) AS n,
               ${dsumSql("o_totalprice")} AS sum_v,
               ${davgSql("o_totalprice")} AS avg_v,
               min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM orders GROUP BY 1 ORDER BY 1"""))
  )

  /** Shared inputs for the J7 MERGE rewrite: staging = updated balances for
    * custkey%3=0 plus brand-new keys (+100000) for custkey%7=0; current = the
    * customer table as-is.
    */
  private def upsertInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = c.filter(col("c_custkey") % 3 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val inserts = c.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_custkey", col("c_custkey") + lit(100000L))
    (updates.unionByName(inserts), c)
  }

  private def upsertCte: String = """
    WITH staging AS (
      SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey + 100000, c_name, c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ), u AS (
      SELECT c_custkey, c_name, c_acctbal, 0 AS pri FROM staging
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, 1 AS pri FROM customer
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY pri, c_name, c_acctbal) AS rn,
             max(pri) OVER (PARTITION BY c_custkey) AS hascur
      FROM u
    ), merged AS (
      SELECT c_custkey, c_name, c_acctbal,
             CASE WHEN pri = 1 THEN 'keep'
                  WHEN hascur = 1 THEN 'update'
                  ELSE 'insert' END AS action
      FROM r WHERE rn = 1
    )"""
}

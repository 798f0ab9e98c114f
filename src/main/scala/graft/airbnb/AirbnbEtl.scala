package graft.airbnb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration of the reference pipeline (main.py option 4:
  * EDA → clean → load → views; SURVEY §3.1), idempotent and re-runnable —
  * a second run over the same feeds updates listings in place (MERGE
  * semantics) and inserts zero duplicate reviews (anti-join), exactly like
  * the reference. A rerun writes only its delta to the grow-only tables
  * (the id map and the review facts); the dims and fact_calendar are
  * swapped whole. Enrichment columns live in the table they describe, as
  * the reference's ALTER + UPDATE-joins put them there: `review_lang` is
  * tagged as each new review is appended, `host_country_corrected` is
  * computed as dim_hosts is written.
  */
object AirbnbEtl {

  final case class Result(wh: Warehouse, stats: Map[String, Long],
                          mergeActions: Map[String, Long])

  /** @param listingsGlob raw `*listings*.csv.gz` glob
    * @param calendarGlob raw `*calendar*.csv.gz` glob
    * @param reviewsGlob  raw `*reviews*.csv.gz` glob
    * @param reviewsCap   O4 load-shedding cap (None = off; the reference
    *                     default silently drops 20% above 200k rows)
    */
  def run(spark: SparkSession, warehouseRoot: String,
          listingsGlob: String, calendarGlob: String, reviewsGlob: String,
          reviewsCap: Option[Long] = None): Result = {
    val wh = Warehouse(spark, warehouseRoot)

    // ---- clean (modules/data_cleaner.py)
    val cleanL = Cleaner.cleanListings(Sources.readRawCsv(spark, listingsGlob))
    val cleanC = Cleaner.cleanCalendar(Sources.readRawCsv(spark, calendarGlob))
    val cleanR0 = Cleaner.cleanReviews(Sources.readRawCsv(spark, reviewsGlob))
    val cleanR = reviewsCap.map(Loaders.sampleCap(cleanR0, _)).getOrElse(cleanR0)

    // ---- listings: staging → typed → MERGE upsert + id map.
    // Action counts ride the write via observe() — the reference's OUTPUT
    // $action reconciliation without a second scan (SURVEY §7.4: never pay an
    // extra full pass for counts at 100 TB).
    val current = wh.readOrEmpty("dim_listings", Schemas.dimListings)
    val merged = Loaders.upsertListings(Loaders.typedListings(cleanL), current)
    val obs = org.apache.spark.sql.Observation("merge_actions")
    val observed = merged.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.when(col("action") === "insert", 1)).as("insert"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.when(col("action") === "update", 1)).as("update"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.when(col("action") === "keep", 1)).as("keep"))
    wh.write("dim_listings", observed.drop("action"))
    val mergeActions = obs.get.collect {
      case (k, v: Long) if v > 0 => k -> v
    }.toMap

    // grow-only tables (the id map and the review facts) take only the
    // day's new rows through Warehouse.append
    val mapExisting = wh.readOrEmpty("dim_listing_id_map", Schemas.dimListingIdMap)
    wh.append("dim_listing_id_map", Loaders.appendIdMap(cleanL, mapExisting))

    // ---- hosts (with F12's corrected country), dates
    val dimListings = wh.read("dim_listings")
    wh.write("dim_hosts", Enrich.addCorrectedCountry(Loaders.loadHosts(dimListings),
      "host_country", "host_country_corrected"))
    val dateSpan = cleanC.select(col("date")).unionByName(cleanR.select(col("date")))
    wh.write("dim_dates", Loaders.loadDates(dateSpan, "date"))

    // ---- facts: partitioned by week for dynamic partition pruning, sorted
    // by listing_id within files so parquet row-group min/max stats take the
    // role of the reference's B-tree indexes (SURVEY §4,
    // sql/schema/04_create_indexes.sql)
    wh.write("fact_calendar",
      Loaders.loadCalendar(cleanC, dimListings)
        .repartition(col("week_start_date"))
        .sortWithinPartitions(col("week_start_date"), col("listing_id")),
      partitionBy = Seq("week_start_date"))
    // J3: existing reviews are read only for the anti-join's review_id
    val newReviews = Loaders.loadReviews(cleanR, wh.read("dim_dates"),
      dimListings, wh.readOrEmpty("fact_reviews", Schemas.factReviews))
    // range-partition on (year, listing_id): hash-partitioning on year alone
    // would collapse the write to one task per distinct year — a parallelism
    // cliff on the biggest fact; range keeps many tasks per year while
    // partitionBy still splits the directories for pruning. Each appended
    // file stays sorted on listing_id for row-group pruning.
    // J8: review_lang is tagged above the exchange and sort, so LangId runs
    // once per new review in the write stage (never in the range sampling
    // job), and a row lands with its tag in one append.
    wh.append("fact_reviews",
      Enrich.addReviewLang(newReviews
        .repartitionByRange(col("review_year"), col("listing_id"))
        .sortWithinPartitions(col("review_year"), col("listing_id"))),
      partitionBy = Seq("review_year"))

    // ---- enrichment + views
    wh.write("dim_listings_enriched", Enrich.pretreat(wh.read("dim_listings")))
    Views.register(spark, wh.read("dim_listings_enriched"))

    Result(wh, wh.stats(), mergeActions)
  }

  /** §5 — the reference's debug-check corpus as invariant audits: returns
    * (name → violation count); all zero on a healthy warehouse (the
    * language-progress row counts rows still awaiting detection, like
    * scripts/debug/check_language_detection_progress.py:29-37).
    *
    * One fused pass (SURVEY §7.4: no count() job per check): the three
    * tables become one union of (t, k, orphan, untagged) rows — listings
    * keyed by listing_id, reviews by review_id, calendar rows with a NULL
    * key — where `orphan` is an EXISTS against the listing keys (one
    * broadcast, reused by both facts). groupBy(t, k) gives each key's row
    * count, and groupBy(t) sums n − 1 over the non-null keys (duplicates)
    * and n of the NULL key (null keys). Two shuffles, no distinct
    * aggregate and no anti-join: under AQE a call runs 4 jobs (counted
    * with a job listener).
    */
  def validate(wh: Warehouse): Map[String, Long] = {
    val listings = wh.read("dim_listings")
    // a fact's listing_id is read as `fk`, so the correlated reference can
    // only resolve to the outer row, never to the subquery's own listing_id
    def fact(name: String) = wh.read(name).withColumnRenamed("listing_id", "fk")
    val orphanFlag = when(listings.select(col("listing_id").as("lk"))
      .where(col("lk") === col("fk").outer()).exists(), 0L).otherwise(1L)
    def rows(t: String, df: DataFrame, key: Column, orphan: Column, untagged: Column) =
      df.select(lit(t).as("t"), key.cast("long").as("k"), orphan.as("orphan"),
        untagged.as("untagged"))
    val perTable = Seq(
      rows("listing", listings, col("listing_id"), lit(0L), lit(0L)),
      rows("review", fact("fact_reviews"), col("review_id"), orphanFlag,
        when(col("review_lang").isNull && col("comments").isNotNull
          && length(col("comments")) > 0, 1L).otherwise(0L)),
      rows("calendar", fact("fact_calendar"), lit(null), orphanFlag, lit(0L)))
      .reduce(_ union _)
      .groupBy("t", "k").agg(count(lit(1)).as("n"), sum("orphan").as("orphan"),
        sum("untagged").as("untagged"))
      .groupBy("t").agg(
        sum(when(col("k").isNotNull, col("n") - 1)).as("dup"),
        sum(when(col("k").isNull, col("n"))).as("null"),
        sum("orphan").as("orphan"), sum("untagged").as("untagged"))
      .collect().map(r => r.getString(0) -> r).toMap
    // an empty table has no group, a sum over no rows is NULL: both are 0
    def v(t: String, c: String): Long = perTable.get(t)
      .map(r => r.getAs[java.lang.Long](c)).filter(_ != null).fold(0L)(_.longValue)
    Map("dup_listing_pk" -> v("listing", "dup"), "null_listing_pk" -> v("listing", "null"),
      "dup_review_pk" -> v("review", "dup"), "null_review_pk" -> v("review", "null"),
      "reviews_lang_untagged" -> v("review", "untagged"),
      "orphan_review_rows" -> v("review", "orphan"),
      "orphan_calendar_rows" -> v("calendar", "orphan"))
  }
}

package graft.airbnb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration of the reference pipeline (main.py option 4:
  * EDA → clean → load → views; SURVEY §3.1), idempotent and re-runnable —
  * a second run over the same feeds updates listings in place (MERGE
  * semantics) and inserts zero duplicate reviews (anti-join), exactly like
  * the reference. A rerun writes only its delta to the grow-only tables
  * (id map, review facts, review language tags); the dims and
  * fact_calendar are swapped whole.
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

    // grow-only tables (the id map, the review facts and their language
    // tags) take only the day's new rows through Warehouse.append
    val mapExisting = wh.readOrEmpty("dim_listing_id_map", Schemas.dimListingIdMap)
    wh.append("dim_listing_id_map", Loaders.appendIdMap(cleanL, mapExisting))

    // ---- hosts, dates
    val dimListings = wh.read("dim_listings")
    wh.write("dim_hosts", Loaders.loadHosts(dimListings))
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
    wh.append("fact_reviews",
      newReviews
        .repartitionByRange(col("review_year"), col("listing_id"))
        .sortWithinPartitions(col("review_year"), col("listing_id")),
      partitionBy = Seq("review_year"))

    // ---- enrichment + views
    val (enrichedListings, enrichedHosts) =
      Enrich.pretreat(wh.read("dim_listings"), wh.read("dim_hosts"))
    wh.write("dim_listings_enriched", enrichedListings)
    wh.write("dim_hosts_enriched", enrichedHosts)
    // J8: tag only the reviews not yet tagged (fact_reviews ▷
    // fact_reviews_enriched); this also heals a crash between the two appends
    val facts = wh.readOrEmpty("fact_reviews", Schemas.factReviews)
    val untagged =
      if (wh.exists("fact_reviews_enriched"))
        facts.join(wh.read("fact_reviews_enriched").select("review_id"), Seq("review_id"),
          "left_anti")
      else facts
    wh.append("fact_reviews_enriched", Enrich.addReviewLang(untagged))
    Views.register(spark, wh.read("dim_listings_enriched"))

    Result(wh, wh.stats(), mergeActions)
  }

  /** §5 — the reference's debug-check corpus as invariant audits: returns
    * (name → violation count); all zero on a healthy warehouse (the
    * language-progress row counts rows still awaiting detection, like
    * scripts/debug/check_language_detection_progress.py:29-37).
    *
    * ONE Spark job: every invariant is a 1-row (name, v) aggregate and the
    * union collects once — not a count() job per check (SURVEY §7.4).
    */
  def validate(wh: Warehouse): Map[String, Long] = {
    val listings = wh.read("dim_listings")
    val calendar = wh.read("fact_calendar")
    val reviews = wh.read("fact_reviews")
    val lkeys = listings.select("listing_id")
    def check(name: String, df: DataFrame, agg: org.apache.spark.sql.Column): DataFrame =
      df.agg(agg.cast("long").as("v")).select(lit(name).as("name"), col("v"))
    // countDistinct ignores NULL keys, so the dup check counts only non-null
    // rows on both sides (duplicates among real keys); NULL keys are their
    // own invariant row — together these preserve the original
    // count - distinct semantics while keeping everything in one job
    val checks = Seq(
      check("dup_listing_pk", listings,
        count(col("listing_id")) - countDistinct(col("listing_id"))),
      check("null_listing_pk", listings, count(when(col("listing_id").isNull, 1))),
      check("dup_review_pk", reviews,
        count(col("review_id")) - countDistinct(col("review_id"))),
      check("null_review_pk", reviews, count(when(col("review_id").isNull, 1))),
      check("orphan_calendar_rows",
        calendar.join(lkeys, Seq("listing_id"), "left_anti"), count(lit(1))),
      check("orphan_review_rows",
        reviews.join(lkeys, Seq("listing_id"), "left_anti"), count(lit(1)))) ++
      (if (wh.exists("fact_reviews_enriched"))
        Seq(check("reviews_lang_untagged", wh.read("fact_reviews_enriched"),
          count(when(col("review_lang").isNull && col("comments").isNotNull
            && length(col("comments")) > 0, 1))))
      else Nil)
    checks.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}

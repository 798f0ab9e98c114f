package graft.airbnb

import org.apache.spark.sql.types._

/** Feed and warehouse schemas of the reference star schema
  * (/root/reference/sql/schema/02_create_tables.sql; column-keep lists from
  * modules/data_cleaner.py:164-186).
  *
  * Raw feeds are read all-string (the reference sets inferSchema=false,
  * modules/data_analyzer.py:136-139, and lands everything in NVARCHAR
  * staging); typing happens at the load step via try_cast (F2).
  */
object Schemas {

  /** P1 — the columns the cleaner keeps per feed (data_cleaner.py:164-186). */
  val keptColumns: Map[String, Seq[String]] = Map(
    "listings" -> Seq(
      "id", "host_id", "host_name", "host_location",
      "neighbourhood_cleansed", "latitude", "longitude",
      "price", "number_of_reviews", "review_scores_rating",
      "calculated_host_listings_count"),
    "reviews" -> Seq("listing_id", "id", "date", "reviewer_id", "reviewer_name", "comments"),
    "calendar" -> Seq("listing_id", "date", "available", "price"))

  /** Cleaned-listings columns after geo derivation (data_cleaner.py:98-128). */
  val cleanedListingsColumns: Seq[String] = Seq(
    "id", "host_id", "host_name", "latitude", "longitude", "price",
    "number_of_reviews", "review_scores_rating", "calculated_host_listings_count",
    "host_city", "host_country", "property_country", "property_city",
    "property_neighbourhood")

  val dimListings: StructType = StructType(Seq(
    StructField("listing_id", LongType, nullable = false),
    StructField("host_id", LongType),
    StructField("host_name", StringType),
    StructField("host_city", StringType),
    StructField("host_country", StringType),
    StructField("property_country", StringType),
    StructField("property_city", StringType),
    StructField("property_neighbourhood", StringType),
    StructField("latitude", DecimalType(9, 6)),
    StructField("longitude", DecimalType(9, 6)),
    StructField("price", DecimalType(10, 2)),
    StructField("number_of_reviews", LongType),
    // DDL says DECIMAL(3,2) but the MERGE casts DECIMAL(5,2)
    // (data_loader.py:266) and feed data exceeds 9.99 — adopt (5,2)
    StructField("review_scores_rating", DecimalType(5, 2)),
    StructField("calculated_host_listings_count", LongType),
    StructField("created_date", TimestampType),
    StructField("updated_date", TimestampType)))

  val dimListingIdMap: StructType = StructType(Seq(
    StructField("mapping_id", LongType, nullable = false),
    StructField("listing_id", LongType),
    StructField("listing_raw_id", StringType),
    StructField("part1", StringType),
    StructField("part2", StringType),
    StructField("part3", StringType)))

  val dimHosts: StructType = StructType(Seq(
    StructField("host_id", LongType, nullable = false),
    StructField("host_name", StringType),
    StructField("host_city", StringType),
    StructField("host_country", StringType),
    StructField("total_listings", LongType),
    // F12, added as the table is written (pretreatment.py:41-64 ALTERs
    // it onto the table and fills it)
    StructField("host_country_corrected", StringType)))

  val factCalendar: StructType = StructType(Seq(
    StructField("listing_id", LongType, nullable = false),
    StructField("week_start_date", DateType, nullable = false),
    StructField("week_end_date", DateType),
    StructField("avg_price_per_week", DecimalType(10, 2)),
    StructField("available_days_per_week", LongType)))

  val factReviews: StructType = StructType(Seq(
    StructField("review_id", LongType, nullable = false),
    StructField("listing_id", LongType),
    StructField("date_id", LongType),
    StructField("reviewer_id", LongType),
    StructField("reviewer_name", StringType),
    StructField("comments", StringType),
    // U4, tagged as the row is appended (language_detection.py:35 ALTERs
    // it onto the table)
    StructField("review_lang", StringType),
    // physical partition column (SURVEY §4: fact_reviews by review year →
    // dynamic partition pruning on year-ranged reads)
    StructField("review_year", IntegerType)))
}

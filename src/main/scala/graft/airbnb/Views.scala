package graft.airbnb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three analytical views (A2, sql/schema/03_create_views.sql) as
  * DataFrames; [[register]] exposes the same frames as catalog temp views
  * for the reference's SQL surface.
  *
  * All three are single hash-aggregates over dim_listings — at scale they
  * are one shuffle each on their grouping keys, with partial aggregation
  * map-side.
  */
object Views {

  /** vw_local_foreign_analysis (03_create_views.sql:14-26). */
  def localForeignAnalysis(dimListings: DataFrame): DataFrame =
    dimListings.groupBy(col("property_country"), col("property_city"),
        col("latitude"), col("longitude"), col("is_local_host"))
      .agg(count(lit(1)).as("total_listings"),
           avg(col("price")).as("avg_price"),
           avg(col("review_scores_rating")).as("avg_rating"),
           sum(col("number_of_reviews")).as("total_reviews"))

  /** vw_neighborhood_performance (03_create_views.sql:30-42). */
  def neighborhoodPerformance(dimListings: DataFrame): DataFrame =
    dimListings.groupBy(col("property_country"), col("property_city"),
        col("property_neighbourhood"), col("latitude"), col("longitude"))
      .agg(count(lit(1)).as("listing_count"),
           avg(col("price")).as("avg_price"),
           avg(col("review_scores_rating")).as("avg_rating"),
           avg(col("number_of_reviews")).as("avg_reviews"))

  /** vw_host_activity (03_create_views.sql:46-56). */
  def hostActivity(dimListings: DataFrame): DataFrame =
    dimListings.groupBy(col("host_country"), col("host_city"),
        col("latitude"), col("longitude"))
      .agg(countDistinct(col("host_id")).as("unique_hosts"),
           count(lit(1)).as("total_listings"),
           avg(col("price")).as("avg_price"))

  /** SQL surface: registers dim_listings and the three views above as temp
    * views, so `spark.sql("SELECT * FROM vw_neighborhood_performance")`
    * runs the same DataFrame code the API callers do.
    */
  def register(spark: SparkSession, dimListings: DataFrame): Unit = {
    dimListings.createOrReplaceTempView("dim_listings")
    localForeignAnalysis(dimListings).createOrReplaceTempView("vw_local_foreign_analysis")
    neighborhoodPerformance(dimListings).createOrReplaceTempView("vw_neighborhood_performance")
    hostActivity(dimListings).createOrReplaceTempView("vw_host_activity")
  }
}

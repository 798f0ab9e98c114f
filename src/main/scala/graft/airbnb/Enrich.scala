package graft.airbnb

import graft.functions.{CleanFns, LangId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Enrichment passes (SURVEY §3.3):
  *   1. pretreatment — US-state → country normalization (F12) and
  *      is_local_host (F13), scripts/maintenance/pretreatment.py:14-82;
  *   2. per-review language detection (U4),
  *      scripts/app/language_detection.py:41-154.
  *
  * The reference round-trips every row through client-side Python for (2);
  * here both passes are column expressions / a distributed UDF — no driver
  * data movement at any scale. Like the reference's ALTER + UPDATE-joins,
  * the columns land in the table they describe: `AirbnbEtl.run` tags
  * `review_lang` inside the fact_reviews append and adds
  * `host_country_corrected` as dim_hosts is written. Only the listings
  * keep a separate enriched table (dim_listings_enriched), since
  * dim_listings is the MERGE target.
  */
object Enrich {

  /** The reference's US state/territory abbreviation list (pretreatment.py:14-22). */
  val usStates: Seq[String] = Seq(
    "AL", "AK", "AS", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA",
    "GU", "HI", "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA",
    "MI", "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC",
    "ND", "OH", "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT",
    "VT", "VA", "WA", "WV", "WI", "WY")

  /** F12 — add `<src>_corrected` mapping US state codes to 'United States'. */
  def addCorrectedCountry(df: DataFrame, src: String, target: String): DataFrame =
    df.withColumn(target, CleanFns.normalizeIn(col(src), usStates, "United States"))

  /** F13 — is_local_host on dim_listings (needs host_country_corrected). */
  def addIsLocalHost(dimListings: DataFrame): DataFrame =
    dimListings.withColumn("is_local_host",
      CleanFns.isLocal(col("host_country_corrected"), col("property_country")))

  /** Listings pretreatment: corrected country, then the flag. */
  def pretreat(dimListings: DataFrame): DataFrame =
    addIsLocalHost(addCorrectedCountry(dimListings, "host_country", "host_country_corrected"))

  /** U4 — review_lang on non-empty comments (first 100 chars, 'und' default),
    * language_detection.py:56-95; the UPDATE-join writeback (J8) becomes a
    * column added to the new reviews before they are appended, so each
    * review is tagged once, in the same file as its row.
    */
  def addReviewLang(factReviews: DataFrame): DataFrame =
    factReviews.withColumn("review_lang",
      when(col("comments").isNotNull && length(col("comments")) > 0,
        LangId.detectLang(substring(col("comments"), 1, 100)))
        .otherwise(lit(null).cast("string")))
}

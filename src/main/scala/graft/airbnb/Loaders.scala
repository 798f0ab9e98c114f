package graft.airbnb

import graft.functions.CleanFns
import graft.operators.{DatesDim, Upsert}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Load stage: the reference's per-feed pipelines (SURVEY §3.1) re-expressed
  * as pure DataFrame → DataFrame functions.
  *
  * Scale notes: listings upsert shuffles once on listing_id (Upsert); hosts
  * computes dedup + counts in ONE window pass over a single shuffle on
  * host_id (the reference self-joins the table, J6 — fused here); calendar is
  * a single hash-agg keyed (listing_id, week) after a broadcast FK-filter
  * join; reviews joins broadcast the date dim and use one shuffle on
  * listing_id. Facts should be written partitioned by week/date for dynamic
  * partition pruning downstream.
  */
object Loaders {

  /** F1 as used by the listings MERGE (modules/data_loader.py:264): strip
    * '$'/',' then DECIMAL(10,2), NULL on failure.
    */
  private def priceCast(c: Column): Column =
    regexp_replace(c, "[$,]", "").try_cast(DecimalType(10, 2))

  /** Typed SELECT of the all-string staging (the MERGE source subquery,
    * modules/data_loader.py:253-269) with its P4 validity gate.
    */
  def typedListings(staging: DataFrame): DataFrame =
    staging
      .withColumnRenamed("id", "listing_id")
      .select(
        col("listing_id").try_cast(LongType).as("listing_id"),
        col("host_id").try_cast(LongType).as("host_id"),
        col("host_name"), col("host_city"), col("host_country"),
        col("property_country"), col("property_city"), col("property_neighbourhood"),
        col("latitude").try_cast(DecimalType(9, 6)).as("latitude"),
        col("longitude").try_cast(DecimalType(9, 6)).as("longitude"),
        priceCast(col("price")).as("price"),
        col("number_of_reviews").try_cast(LongType).as("number_of_reviews"),
        col("review_scores_rating").try_cast(DecimalType(5, 2)).as("review_scores_rating"),
        col("calculated_host_listings_count").try_cast(LongType)
          .as("calculated_host_listings_count"))
      .filter(col("listing_id").isNotNull)

  /** J7 — MERGE upsert of typed staging into dim_listings; keeps audit
    * timestamps (updated rows get a fresh updated_date, like the MERGE's
    * UPDATE SET; created_date survives from the current row only on keeps —
    * the reference's UPDATE doesn't touch created_date, so matched rows keep
    * it too, which we replicate by joining it back).
    */
  def upsertListings(typedStaging: DataFrame, current: DataFrame): DataFrame = {
    val now = current_timestamp()
    val staged = typedStaging
      .withColumn("created_date", now).withColumn("updated_date", now)
    val merged = Upsert.merge(staged, current, Seq("listing_id"))
    // matched rows keep their original created_date (MERGE UPDATE doesn't set it)
    val origCreated = current.select(col("listing_id"),
      col("created_date").as("__orig_created"))
    merged.join(origCreated, Seq("listing_id"), "left")
      .withColumn("created_date", coalesce(col("__orig_created"), col("created_date")))
      .drop("__orig_created")
  }

  /** Append-only raw-id map (modules/data_loader.py:292-300): EVERY staging
    * row — including non-convertible ids — gets a mapping row with 6-char
    * splits. mapping_id continues from `existing`'s max (IDENTITY). Returns
    * only the fresh rows, for `Warehouse.append`.
    */
  def appendIdMap(stagingRaw: DataFrame, existing: DataFrame): DataFrame = {
    val spark = stagingRaw.sparkSession
    val parts = CleanFns.idParts(col("listing_raw_id")).toMap
    val fresh = stagingRaw
      .withColumnRenamed("id", "listing_raw_id")
      .select(
        col("listing_raw_id").try_cast(LongType).as("listing_id"),
        col("listing_raw_id"),
        parts("part1").as("part1"), parts("part2").as("part2"), parts("part3").as("part3"))
    // Distributed IDENTITY: a global Window.orderBy would drag every row to a
    // single partition (never finishes at 100 TB). Instead fix a deterministic
    // global order — SQL's ascending (listing_raw_id, listing_id), NULLS
    // FIRST, strings by UTF-8 bytes — with a range-partitioned sort, then
    // number the rows two-phase: one job counts each sorted partition AND
    // takes the existing map's max, the write adds the offsets. Ids depend
    // only on the global sort order, not on range boundaries, so they're
    // stable. The ranges are sized like AQE's coalesced ones (one per
    // advisory partition size of input, at most the shuffle partitions);
    // a single range needs no sample job, more cost one.
    val conf = spark.sessionState.conf
    val ranges = (fresh.queryExecution.optimizedPlan.stats.sizeInBytes /
      conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      .min(conf.numShufflePartitions).toInt.max(1)
    implicit val utf8Order: Ordering[UTF8String] = Ordering.fromLessThan(_.compareTo(_) < 0)
    val sorted = fresh.rdd
      .keyBy(r => (Option(r.getString(1)).map(UTF8String.fromString),
        if (r.isNullAt(0)) None else Some(r.getLong(0))))
      .sortByKey(numPartitions = ranges)
      .values
    val (counts, maxes) = sorted
      .mapPartitions(rows => Iterator[Either[Long, Long]](Left(rows.size.toLong)))
      .union(existing.select(col("mapping_id")).rdd.mapPartitions(rows =>
        Iterator(Right(rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).maxOption.getOrElse(0L)))))
      .collect().partitionMap(identity)
    val offsets = counts.scanLeft(maxes.maxOption.getOrElse(0L))(_ + _)
    val schema = StructType(
      StructField("mapping_id", LongType, nullable = false) +: fresh.schema.fields)
    val withId = sorted.mapPartitionsWithIndex { (i, rows) =>
      var id = offsets(i)
      rows.map { r => id += 1; org.apache.spark.sql.Row.fromSeq(id +: r.toSeq) }
    }
    spark.createDataFrame(withId, schema)
  }

  /** dim_hosts (sql/data/02_load_hosts.sql): latest-wins dedup per host (W1)
    * + per-host listing count (A3/J6) — fused into one window pass instead of
    * the reference's self-join. `AirbnbEtl.run` adds
    * `host_country_corrected` (`Enrich.addCorrectedCountry`) before the
    * write, so the stored table has `Schemas.dimHosts`.
    */
  def loadHosts(dimListings: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("host_id")).orderBy(col("updated_date").desc)
    val wc = Window.partitionBy(col("host_id"))
    dimListings
      .filter(col("host_id").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("total_listings", count(lit(1)).over(wc))
      .filter(col("rn") === 1)
      .select(col("host_id"), col("host_name"), col("host_city"), col("host_country"),
              col("total_listings"))
  }

  /** dim_dates over the calendar+reviews date span (the reference generates
    * it in Python, modules/data_loader.py:484-522).
    */
  def loadDates(datesSource: DataFrame, dateCol: String): DataFrame =
    DatesDim.fromSpan(
      datesSource.select(col(dateCol).try_cast(DateType).as("d")).filter(col("d").isNotNull),
      "d")

  /** fact_calendar (sql/data/04_load_calendar.sql:24-48): FK-filter join to
    * dim_listings (J1), then weekly grain (F3) with cleaned price avg (F1)
    * and availability day counts (F5).
    */
  def loadCalendar(cleanCalendar: DataFrame, dimListings: DataFrame): DataFrame = {
    val d = col("date").try_cast(DateType)
    val priceClean = CleanFns.priceClean(col("price"))
    val avail = lower(CleanFns.wsTrim(col("available"))).isin("t", "true", "1")
    cleanCalendar
      .withColumn("listing_id", col("listing_id").try_cast(LongType))
      .join(broadcast(dimListings.select("listing_id")), Seq("listing_id"))
      .groupBy(col("listing_id"),
               CleanFns.weekStart(d).as("week_start_date"),
               CleanFns.weekEnd(d).as("week_end_date"))
      .agg(avg(priceClean).cast(DecimalType(10, 2)).as("avg_price_per_week"),
           sum(when(avail, 1).otherwise(0)).as("available_days_per_week"))
  }

  /** O4 — the reviews load-shedding cap: sample(0.8, seed=42) when the batch
    * exceeds `capRows` (modules/data_loader.py:428-431). Default off in the
    * runner: it silently drops data.
    */
  def sampleCap(df: DataFrame, capRows: Long, fraction: Double = 0.8,
                seed: Long = 42L): DataFrame = {
    // Bounded probe, not a full count: LocalLimit caps every partition at
    // capRows+1 rows, so deciding "over the cap?" reads O(partitions·cap)
    // rows instead of scanning the whole feed (SURVEY §7.4). limit() takes an
    // Int; for caps beyond Int.MaxValue the probe can't witness an overrun,
    // so fall back to the exact count rather than silently never capping.
    val over =
      if (capRows >= Int.MaxValue.toLong) df.count() > capRows
      else df.limit(capRows.toInt + 1).count() > capRows
    if (over) df.sample(fraction, seed) else df
  }

  /** fact_reviews (sql/data/05_load_reviews.sql:34-56): typed casts +
    * LEFT(reviewer_name,255) (F7) + in-batch dedup by review id (W2, pinned
    * deterministic) + joins to dim_dates (cast-in-condition, J2) and
    * dim_listings, then left-anti vs already-loaded reviews (J3).
    */
  def loadReviews(cleanReviews: DataFrame, dimDates: DataFrame,
                  dimListings: DataFrame, existingReviews: DataFrame): DataFrame = {
    val typed = cleanReviews.select(
      col("id").try_cast(LongType).as("review_id"),
      col("listing_id").try_cast(LongType).as("listing_id"),
      col("date").try_cast(DateType).as("review_date"),
      col("reviewer_id").try_cast(LongType).as("reviewer_id"),
      CleanFns.sanitizeStr(col("reviewer_name"), 255).as("reviewer_name"),
      CleanFns.sanitizeStr(col("comments"), 4000).as("comments"))
    val w = Window.partitionBy(col("review_id")).orderBy(col("listing_id"), col("reviewer_id"))
    typed
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .join(broadcast(dimDates.select(col("full_date"), col("date_id"))),
            col("review_date") === col("full_date"))
      .join(dimListings.select("listing_id"), Seq("listing_id"))
      .join(existingReviews.select("review_id"), Seq("review_id"), "left_anti")
      .withColumn("review_year", year(col("review_date")))
      .select("review_id", "listing_id", "date_id", "reviewer_id", "reviewer_name",
              "comments", "review_year")
  }
}

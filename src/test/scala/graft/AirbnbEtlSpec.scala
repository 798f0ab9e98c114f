package graft

import graft.airbnb._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** End-to-end parity test of the Airbnb pipeline over hand-written csv.gz
  * feeds shaped like the reference's inputs (FIXTURES.md §A.1): dirty prices,
  * t/f booleans, messy host_location, non-numeric ids, duplicate reviews.
  */
class AirbnbEtlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeGz(path: File, lines: Seq[String]): Unit = {
    val w = new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(path)), StandardCharsets.UTF_8)
    try w.write(lines.mkString("\n") + "\n") finally w.close()
  }

  private lazy val rawDir: File = {
    val d = java.nio.file.Files.createTempDirectory("graft-airbnb").toFile
    // Country_City_listings_date.csv.gz — filename geography (F11)
    writeGz(new File(d, "France_Paris_listings_01-May-2025.csv.gz"), Seq(
      "id,host_id,host_name,host_location,neighbourhood_cleansed,latitude,longitude,price,number_of_reviews,review_scores_rating,calculated_host_listings_count",
      "101,9001,Alice,\"Paris, France\",Marais,48.8566,2.3522,\"$1,250.00\",12,4.75,2",
      "102,9001,Alice,\"Paris, France\",Bastille,48.8530,2.3690,$99.50,3,4.20,2",
      "103,9002,Bob,United States,Marais,48.8570,2.3500,$500.00,0,,1",
      "abc-77,9003,Carol,,Latin Quarter,48.8500,2.3400,$75.00,5,4.90,1"))
    writeGz(new File(d, "France_Paris_calendar_01-May-2025.csv.gz"), Seq(
      "listing_id,date,available,price",
      // listing 101: week of Mon 2025-04-28 (two days) + week of 2025-05-05
      "101,2025-04-28,t,$100.00",
      "101,2025-04-29,f,$120.00",
      "101,2025-05-05,true,$200.00",
      "102,2025-04-28,f,$80.00",
      // orphan listing id → dropped by the FK-filter join
      "999,2025-04-28,t,$10.00"))
    writeGz(new File(d, "France_Paris_reviews_01-May-2025.csv.gz"), Seq(
      "listing_id,id,date,reviewer_id,reviewer_name,comments",
      "101,5001,2025-04-28,7001,Dana,the host was great and the flat is warm",
      "101,5001,2025-04-28,7001,Dana,duplicate row of the same review id",
      "102,5002,2025-04-29,7002,Eve,la maison est belle et le quartier est calme",
      "101,5003,not-a-date,7003,Frank,unparseable date gets dropped",
      "999,5004,2025-04-28,7004,Grace,orphan listing review gets dropped"))
    d
  }

  private lazy val whRoot =
    java.nio.file.Files.createTempDirectory("graft-wh").toFile.getPath

  /** The next day's feeds: the same listings and calendar, and a reviews
    * feed holding one review already loaded (5002) and one new one (5005).
    */
  private lazy val rerunDir: File = {
    val d = java.nio.file.Files.createTempDirectory("graft-airbnb-rerun").toFile
    rawDir.listFiles().filterNot(_.getName.contains("_reviews_")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(d, f.getName).toPath)
    }
    writeGz(new File(d, "France_Paris_reviews_02-May-2025.csv.gz"), Seq(
      "listing_id,id,date,reviewer_id,reviewer_name,comments",
      "102,5002,2025-04-29,7002,Eve,la maison est belle et le quartier est calme",
      "103,5005,2025-04-28,7005,Hal,the flat was clean and the host was kind"))
    d
  }

  private def runOn(raw: File, wh: String) = AirbnbEtl.run(spark, wh,
    s"$raw/*listings*.csv.gz", s"$raw/*calendar*.csv.gz", s"$raw/*reviews*.csv.gz")

  private def reviewIds(wh: Warehouse, table: String): Seq[Long] =
    wh.read(table).select(col("review_id")).collect().map(_.getLong(0)).toSeq.sorted

  private def reviewLangs(wh: Warehouse): Map[Long, String] =
    wh.read("fact_reviews").collect()
      .map(r => r.getAs[Long]("review_id") -> r.getAs[String]("review_lang")).toMap

  /** Parquet data files under `dir`, as paths relative to it. */
  private def dataFiles(dir: File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f).map(n => s"${f.getName}/$n")
      else if (f.getName.endsWith(".parquet")) Seq(f.getName) else Nil
    }.toSet

  private lazy val result = AirbnbEtl.run(spark, whRoot,
    s"$rawDir/*listings*.csv.gz", s"$rawDir/*calendar*.csv.gz", s"$rawDir/*reviews*.csv.gz")

  test("listings: typed upsert keeps only castable ids; first run all inserts") {
    assert(result.stats("dim_listings") == 3) // abc-77 fails the P4 gate
    assert(result.mergeActions == Map("insert" -> 3L))
    val l = result.wh.read("dim_listings")
    val r101 = l.filter(col("listing_id") === 101).collect().head
    assert(r101.getAs[java.math.BigDecimal]("price").toString == "1250.00")
    assert(r101.getAs[String]("host_city") == "Paris")
    assert(r101.getAs[String]("host_country") == "France")
    assert(r101.getAs[String]("property_country") == "France")
    assert(r101.getAs[String]("property_city") == "Paris")
    // host_location 'United States' (one part) → Unknown city, country as-is
    val r103 = l.filter(col("listing_id") === 103).collect().head
    assert(r103.getAs[String]("host_city") == "Unknown")
    assert(r103.getAs[String]("host_country") == "United States")
    assert(r103.isNullAt(r103.fieldIndex("review_scores_rating")))
  }

  test("id map is append-only and preserves non-numeric raw ids with splits") {
    val m = result.wh.read("dim_listing_id_map")
    assert(m.count() == 4) // every staging row, including abc-77
    val raw = m.filter(col("listing_raw_id") === "abc-77").collect().head
    assert(raw.isNullAt(raw.fieldIndex("listing_id")))
    assert(raw.getAs[String]("part1") == "abc-77")
  }

  test("hosts: latest-wins dedup + listing counts") {
    val h = result.wh.read("dim_hosts").collect()
      .map(r => r.getAs[Long]("host_id") -> r.getAs[Long]("total_listings")).toMap
    assert(h == Map(9001L -> 2L, 9002L -> 1L))
  }

  test("calendar: weekly grain, cleaned price avg, availability days, FK filter") {
    val c = result.wh.read("fact_calendar")
    assert(c.filter(col("listing_id") === 999).count() == 0)
    val w1 = c.filter(col("listing_id") === 101 &&
        col("week_start_date") === "2025-04-28").collect().head
    assert(w1.getAs[java.sql.Date]("week_end_date").toString == "2025-05-04")
    assert(w1.getAs[java.math.BigDecimal]("avg_price_per_week").toString == "110.00")
    assert(w1.getAs[Long]("available_days_per_week") == 1L)
    val w2 = c.filter(col("listing_id") === 101 &&
        col("week_start_date") === "2025-05-05").collect().head
    assert(w2.getAs[Long]("available_days_per_week") == 1L)
  }

  test("reviews: in-batch dedup, bad dates and orphans dropped, lang enrichment") {
    val r = result.wh.read("fact_reviews")
    assert(r.count() == 2) // 5001 (deduped), 5002; 5003 bad date; 5004 orphan
    val langs = reviewLangs(result.wh)
    assert(langs(5001L) == "en")
    assert(langs(5002L) == "fr")
  }

  test("enrichment: is_local_host via corrected country") {
    val e = result.wh.read("dim_listings_enriched").collect()
      .map(r => r.getAs[Long]("listing_id") ->
        (r.getAs[String]("host_country_corrected"), r.getAs[Boolean]("is_local_host"))).toMap
    assert(e(101L) == ("France", true))
    assert(e(103L) == ("United States", false))
    val h = result.wh.read("dim_hosts").collect()
      .map(r => r.getAs[Long]("host_id") -> r.getAs[String]("host_country_corrected")).toMap
    assert(h == Map(9001L -> "France", 9002L -> "United States"))
  }

  test("views answer the reference's analytical questions (SQL surface)") {
    val np = spark.sql(
      """SELECT listing_count, avg_price FROM vw_neighborhood_performance
         WHERE property_neighbourhood = 'Marais'""").collect()
    assert(np.map(_.getLong(0)).sum == 2)
    val ha = spark.sql(
      """SELECT unique_hosts, total_listings FROM vw_host_activity
         WHERE host_country = 'France'""").collect()
    assert(ha.map(_.getLong(1)).sum == 2)
  }

  test("idempotent re-run: MERGE updates, zero new reviews, invariants hold") {
    result // ensure first run happened
    val second = AirbnbEtl.run(spark, whRoot,
      s"$rawDir/*listings*.csv.gz", s"$rawDir/*calendar*.csv.gz", s"$rawDir/*reviews*.csv.gz")
    assert(second.mergeActions == Map("update" -> 3L))
    assert(second.stats("dim_listings") == 3)
    assert(second.stats("fact_reviews") == 2)      // anti-join blocked re-insert
    assert(second.stats("dim_listing_id_map") == 8) // append-only, like the reference
    val audits = AirbnbEtl.validate(second.wh)
    assert(audits.values.forall(_ == 0L), audits.toString)
  }

  test("fact_reviews is written partitioned by review_year and prunes on it") {
    result // ensure the warehouse exists
    assert(new File(whRoot, "fact_reviews/review_year=2025").exists,
      new File(whRoot, "fact_reviews").list().mkString(", "))
    val scan = result.wh.read("fact_reviews").filter(col("review_year") === 2025)
    val files = scan.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(files.nonEmpty)
    assert(files.head.partitionFilters.exists(_.references.map(_.name).toSeq.contains("review_year")),
      files.head.toString)
    // pruning a year that doesn't exist selects zero partitions
    assert(result.wh.read("fact_reviews").filter(col("review_year") === 1999).count() == 0)
  }

  test("validate() runs all invariants in one collect and tracks lang progress") {
    result
    val audits = AirbnbEtl.validate(result.wh)
    assert(audits.keySet == Set("dup_listing_pk", "null_listing_pk",
      "dup_review_pk", "null_review_pk",
      "orphan_calendar_rows", "orphan_review_rows", "reviews_lang_untagged"))
    assert(audits.values.forall(_ == 0L), audits.toString)
  }

  test("warehouse size stats report bytes on disk per table") {
    result
    val sizes = result.wh.sizeStats()
    assert(sizes.keySet.contains("dim_listings"))
    assert(sizes.values.forall(_ > 0L), sizes.toString)
  }

  test("rerun appends only the new review, tagged as it lands") {
    val root = java.nio.file.Files.createTempDirectory("graft-wh-rerun").toFile
    assert(runOn(rawDir, root.getPath).stats("fact_reviews") == 2)
    val before = dataFiles(new File(root, "fact_reviews"))
    val second = runOn(rerunDir, root.getPath)
    assert(second.stats("fact_reviews") == 3)
    val after = dataFiles(new File(root, "fact_reviews"))
    assert(before.nonEmpty && before.subsetOf(after), s"$before not all in $after")
    assert(reviewIds(second.wh, "fact_reviews") == Seq(5001L, 5002L, 5005L))
    assert(reviewLangs(second.wh) == Map(5001L -> "en", 5002L -> "fr", 5005L -> "en"))
    assert(AirbnbEtl.validate(second.wh).values.forall(_ == 0L))
  }

  test("truncateAll drops the enriched tables: a reload tags exactly fact_reviews") {
    val root = java.nio.file.Files.createTempDirectory("graft-wh-trunc").toFile.getPath
    runOn(rawDir, root).wh.truncateAll()
    // the reload's feed lacks 5001: a surviving table would keep it
    val reload = runOn(rerunDir, root)
    val langs = reviewLangs(reload.wh)
    assert(langs.keys.toSeq.sorted == Seq(5002L, 5005L))
    assert(langs.values.forall(_ != null), langs.toString)
  }

  test("a fact_reviews without review_lang fails the next run before any file moves") {
    val root = java.nio.file.Files.createTempDirectory("graft-wh-oldlayout").toFile
    val wh = runOn(rawDir, root.getPath).wh
    // the previous layout: review facts without the language tag
    wh.write("fact_reviews", wh.read("fact_reviews").drop("review_lang"),
      partitionBy = Seq("review_year"))
    val before = dataFiles(new File(root, "fact_reviews"))
    val ex = intercept[IllegalArgumentException](runOn(rerunDir, root.getPath))
    assert(ex.getMessage.contains("append(fact_reviews): schema"), ex.getMessage)
    assert(dataFiles(new File(root, "fact_reviews")) == before)
    assert(!new File(root, "fact_reviews__atmp").exists)
    // the one-time fix the README names, after which the run proceeds
    wh.write("fact_reviews", Enrich.addReviewLang(wh.read("fact_reviews")),
      partitionBy = Seq("review_year"))
    val fixed = runOn(rerunDir, root.getPath)
    assert(reviewIds(fixed.wh, "fact_reviews") == Seq(5001L, 5002L, 5005L))
    assert(AirbnbEtl.validate(fixed.wh).values.forall(_ == 0L))
  }

  test("validate reports exactly one of each planted violation") {
    val wh = Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-wh-audit").toFile.getPath)
    import spark.implicits._
    // listing ids: 1 duplicated, one NULL
    wh.write("dim_listings", Seq(Some(1L), Some(1L), Some(2L), None).toDF("listing_id"))
    // one calendar row for a listing that does not exist
    wh.write("fact_calendar", Seq(1L, 2L, 99L).toDF("listing_id"))
    // review ids: 10 duplicated, one NULL; review 13 is an orphan; review 12
    // has a comment but no tag (empty and NULL comments need none)
    wh.write("fact_reviews", Seq[(Option[Long], Long, String, String)](
      (Some(10L), 1L, "great stay", "en"), (Some(10L), 1L, "great stay", "en"),
      (None, 2L, "", null), (Some(11L), 2L, null, null),
      (Some(12L), 2L, "calme et belle", null), (Some(13L), 99L, "ok", "en"))
      .toDF("review_id", "listing_id", "comments", "review_lang"))
    assert(AirbnbEtl.validate(wh) == Map(
      "dup_listing_pk" -> 1L, "null_listing_pk" -> 1L,
      "dup_review_pk" -> 1L, "null_review_pk" -> 1L,
      "orphan_calendar_rows" -> 1L, "orphan_review_rows" -> 1L,
      "reviews_lang_untagged" -> 1L))
  }

  test("stats counts every present table in one grouped count; an empty one is 0") {
    val wh = Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-wh-stats").toFile.getPath)
    wh.write("dim_listings", spark.range(3).toDF("listing_id"))
    wh.write("fact_calendar", spark.range(0).toDF("listing_id"))
    assert(wh.stats() == Map("dim_listings" -> 3L, "fact_calendar" -> 0L))
  }

  test("validate runs in at most 4 jobs and stats in 1 on the fixture warehouse") {
    result
    val (audits, validateJobs) = TestSpark.jobSitesDuring(AirbnbEtl.validate(result.wh))
    assert(audits.size == 7 && audits.values.forall(_ == 0L), audits.toString)
    assert(validateJobs.size <= 4, s"validate ran ${TestSpark.bySite(validateJobs)}")
    val (stats, statsJobs) = TestSpark.jobSitesDuring(result.wh.stats())
    assert(stats.keySet == Set("dim_listings", "dim_listing_id_map", "dim_hosts",
      "dim_dates", "fact_calendar", "fact_reviews"), stats.toString)
    assert(statsJobs.size == 1, s"stats ran ${TestSpark.bySite(statsJobs)}")
  }

  test("appendIdMap numbers fresh raw ids in sorted order from the map's max") {
    import spark.implicits._
    def ids(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getAs[String]("listing_raw_id"), r.getAs[Long]("mapping_id")))
        .toSeq.sortBy(_._2)
    val staging = Cleaner.cleanListings(Sources.readRawCsv(spark, s"$rawDir/*listings*.csv.gz"))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.dimListingIdMap)
    val first = Loaders.appendIdMap(staging, empty)
    assert(ids(first) == Seq("101" -> 1L, "102" -> 2L, "103" -> 3L, "abc-77" -> 4L))
    val abc = first.filter(col("listing_raw_id") === "abc-77").collect().head
    assert(abc.isNullAt(abc.fieldIndex("listing_id")) && abc.getAs[String]("part1") == "abc-77")
    // building the rows (before their write) runs at most the range sample
    // and the one job that counts the ranges and takes the existing max
    val (second, buildJobs) = TestSpark.jobSitesDuring(Loaders.appendIdMap(staging, first))
    assert(buildJobs.size <= 2,
      s"appendIdMap ran ${TestSpark.bySite(buildJobs)} before its write")
    assert(ids(second) == Seq("101" -> 5L, "102" -> 6L, "103" -> 7L, "abc-77" -> 8L))
    // several partitions, repeated and NULL raw ids, numeric and not
    val raw = (0 until 3000).map(i =>
      if (i % 97 == 0) null else if (i % 3 == 0) s"${i % 500}" else s"r${i % 700}")
    val existing = spark.range(1, 11).select(col("id").as("mapping_id"))
    val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(advisory, "1k")
    val (got, ranges) = try {
      val m = Loaders.appendIdMap(raw.toDF("id").repartition(5), existing)
      (ids(m), m.rdd.getNumPartitions)
    } finally spark.conf.unset(advisory)
    assert(ranges > 1, "the ids should come from several sorted ranges")
    val want = raw.sortBy(Option(_)).zipWithIndex.map { case (r, i) => (r, 11L + i) }
    assert(got == want)
  }

  test("O4 sample cap activates only above the row threshold") {
    val df = spark.range(1000).toDF("id")
    assert(Loaders.sampleCap(df, 2000).count() == 1000)
    val capped = Loaders.sampleCap(df, 100).count()
    assert(capped > 600 && capped < 1000)
  }
}

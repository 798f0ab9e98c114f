package graft.airbnb

import graft.operators.Profile

/** Non-interactive CLI mirroring the reference's main.py menu
  * (/root/reference/main.py:49-77): analyze | etl | views | validate | stats.
  *
  *   runMain graft.airbnb.Main etl --raw /data/raw --warehouse /data/wh
  *   runMain graft.airbnb.Main analyze --raw /data/raw
  *   runMain graft.airbnb.Main stats --warehouse /data/wh
  */
object Main {

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("etl")
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val raw = opts.getOrElse("raw", "data/raw")
    val whRoot = opts.getOrElse("warehouse", "data/warehouse")
    // --master / --shuffle are deployment settings; unset, the session
    // factory derives both from SPARK_GRAFT_CPUS
    val spark = graft.Session("airbnb-dw", master = opts.get("master"),
      shufflePartitions = opts.get("shuffle").map(_.toInt))

    def globs = (s"$raw/*listings*.csv.gz", s"$raw/*calendar*.csv.gz", s"$raw/*reviews*.csv.gz")

    cmd match {
      case "analyze" => // main.py option 1 — EDA profile (A8)
        val (l, c, r) = globs
        Seq("listings" -> l, "calendar" -> c, "reviews" -> r).foreach { case (n, g) =>
          println(s"== $n ==")
          Profile.profile(Sources.readRawCsv(spark, g)).show(200, truncate = false)
        }
      case "etl" => // main.py option 4 — complete ETL
        val (l, c, r) = globs
        val res = AirbnbEtl.run(spark, whRoot, l, c, r,
          reviewsCap = opts.get("reviews-cap").map(_.toLong))
        println(s"merge actions: ${res.mergeActions}")
        res.stats.toSeq.sortBy(_._1).foreach { case (t, n) => println(f"$t%-24s $n%12d") }
      case "views" => // main.py option 6
        Views.register(spark, Warehouse(spark, whRoot).read("dim_listings_enriched"))
        Seq("vw_local_foreign_analysis", "vw_neighborhood_performance", "vw_host_activity")
          .foreach { v => println(s"== $v =="); spark.sql(s"SELECT * FROM $v LIMIT 20").show() }
      case "validate" => // §5 invariant audits
        val audits = AirbnbEtl.validate(Warehouse(spark, whRoot))
        audits.foreach { case (k, v) => println(f"$k%-24s $v%8d") }
        if (audits.values.exists(_ != 0)) sys.exit(1)
      case "stats" => // main.py option 'show statistics'
        Warehouse(spark, whRoot).stats().toSeq.sortBy(_._1)
          .foreach { case (t, n) => println(f"$t%-24s $n%12d") }
      case other =>
        System.err.println(s"unknown command: $other (use analyze|etl|views|validate|stats)")
        sys.exit(2)
    }
    spark.stop()
  }
}
